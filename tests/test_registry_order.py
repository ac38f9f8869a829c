"""The registry's driver check order is derived, not hand-kept.

``load_all`` fronts the ids of the modules listed in ``DRIVER_FRONT``
(round-robin across those modules) and keeps every other id in import
order. These tests pin that rule, the registry content it permutes,
and that ``DRIVER_FRONT`` is the current output of its own line-1
command.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import subprocess

import __spark_entry__ as entrymod
import servicenow_cmdb_integration_to_aws_spark as engine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: sha256 of the sorted {id: oracle sql} map. Reordering must not add,
#: drop or re-key anything; a change that adds an id or edits an oracle
#: updates these two values.
REGISTRY_IDS = 274
REGISTRY_SHA256 = "7396058eeb358b8ffe5bd195de679c18a2d9542b586de4ddef0e2cf282956688"


def test_registry_content_unchanged_by_reorder():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    blob = json.dumps({k: o.get(k) for k in q}, sort_keys=True).encode()
    assert (len(q), hashlib.sha256(blob).hexdigest()) == (REGISTRY_IDS, REGISTRY_SHA256)
    assert set(o) <= set(q)


def test_oracle_order_follows_query_order():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert list(o) == [k for k in q if k in o]


def test_front_is_round_robin_of_driver_front_modules():
    q = entrymod.queries()
    mods = engine.driver_front_modules()
    by_module = [[k for k, fn in q.items() if fn.__module__ == m] for m in mods]
    front = [k for row in itertools.zip_longest(*by_module) for k in row if k]
    assert front, "DRIVER_FRONT fronts no ids"
    assert list(q)[: len(front)] == front
    # the rest keep registration order: each module's ids contiguous
    rest = list(q)[len(front) :]
    seen = list(dict.fromkeys(q[k].__module__ for k in rest))
    assert rest == sorted(rest, key=lambda k: seen.index(q[k].__module__))


def test_driver_front_matches_its_command():
    lines = engine.DRIVER_FRONT.read_text().splitlines(keepends=True)
    assert lines[0].startswith("# git diff --name-only ")
    out = subprocess.run(
        lines[0][2:], shell=True, cwd=REPO, check=True, capture_output=True, text=True
    ).stdout
    assert "".join(lines[1:]) == out, "regenerate DRIVER_FRONT with the command on its line 1"
