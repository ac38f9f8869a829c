"""Workload partition, dispatch order and the tail-percentile rule."""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from perfbench import workloads as w


def test_workloads_partition_the_registry_exactly():
    queries = entrymod.queries()
    parts = w.partition(queries)
    assert set(parts) == set(w.FAMILIES) == set(w.PINS)
    seen = [q for ids in parts.values() for q in ids]
    assert sorted(seen) == sorted(queries)  # every id, each exactly once
    assert all(parts.values())


def test_an_unassigned_family_fails():
    with pytest.raises(KeyError):
        w.assign("z1_new_family")
    with pytest.raises(ValueError):
        w.assign("1_no_family")


def test_timed_sets_hold_the_pins_and_stay_inside_their_workload():
    parts = w.partition(entrymod.queries())
    for name, ids in parts.items():
        timed = w.timed_set(name, ids)
        assert set(w.PINS[name]) <= set(timed) <= set(ids)
        assert len(timed) < len(ids)


def test_timed_set_membership_is_stable_when_ids_are_added():
    ids = w.partition(entrymod.queries())["cmdb_etl"]
    grown = sorted(ids + [f"b9{i}_new" for i in range(50)])
    assert set(w.timed_set("cmdb_etl", ids)) == set(w.timed_set("cmdb_etl", grown)) & set(ids)


@pytest.mark.parametrize(
    "n, pct",
    [(0, None), (19, None), (20, 50.0), (30, 65.0), (36, 70.0), (39, 70.0), (40, 75.0),
     (99, 85.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond_it(n, pct):
    assert w.tail_percentile(n) == pct

    def beyond(p):  # samples above the nearest-rank p-th percentile
        return n - math.ceil(n * p / 100.0)

    if pct is not None:
        assert beyond(pct) >= 10
    assert all(beyond(p) < 10 for p in w.PERCENTILE_LADDER if pct is None or p > pct)


def test_quantile_is_the_harrell_davis_estimate():
    assert w.quantile([7.0], 0.6) == 7.0
    assert w.quantile([2.0] * 9, 0.6) == pytest.approx(2.0)
    # symmetric weights: the median of a symmetric sample is its centre
    assert w.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5) == pytest.approx(3.0)
    # at p = 0.5 two points weigh equally
    assert w.quantile([1.0, 3.0], 0.5) == pytest.approx(2.0)
    vals = [0.1, 0.2, 0.25, 0.4, 1.0, 1.1, 2.5, 2.6, 3.0, 8.0]
    qs = [w.quantile(vals, p) for p in (0.1, 0.3, 0.5, 0.6, 0.9)]
    assert qs == sorted(qs) and min(vals) < qs[0] and qs[-1] < max(vals)
    # order does not matter
    assert w.quantile(vals[::-1], 0.6) == pytest.approx(w.quantile(vals, 0.6))


def test_dispatch_order_permutes_only_within_blocks():
    name = "llm_curation"
    timed = w.timed_set(name, w.partition(entrymod.queries())[name])
    a, b = w.dispatch_order(name, timed, 1), w.dispatch_order(name, timed, 2)
    assert a == w.dispatch_order(name, timed, 1)
    assert a != b and sorted(a) == sorted(b) == timed
    k = w.ORDER_BLOCK
    assert all(sorted(a[i : i + k]) == sorted(b[i : i + k]) for i in range(0, len(a), k))
    head = -(-len(w.PINS[name]) // k) * k  # pins lead, up to their last block
    assert set(w.PINS[name]) <= set(a[:head])


def test_check_sample_depends_on_the_seed_only():
    ids = w.partition(entrymod.queries())["cmdb_etl"]
    assert w.check_sample(ids, 5) == w.check_sample(ids, 5)
    assert len(w.check_sample(ids, 5)) == w.CHECK_SAMPLE
    assert {tuple(w.check_sample(ids, s)) for s in range(10)} != {tuple(w.check_sample(ids, 0))}
