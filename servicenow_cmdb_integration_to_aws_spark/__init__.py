"""servicenow_cmdb_integration_to_aws_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine covering the query/data-processing
capability surface of the `p2k3m/ServiceNow-CMDB-integration-to-AWS`
domain — CMDB ETL: schema-declared scans, encoded-query predicates,
dot-walk joins, Aggregate-API aggregations, windows, incremental /
streaming sync — plus LLM-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) designed for 100 TB scale.

The reference checkout is empty (SURVEY.md §0): the capability surface
derives from public ServiceNow platform documentation, the driver
contract, and public Apache Spark docs — never from reference code.

Every operator registers a ``(spark, sf_dir) -> DataFrame`` callable in
:mod:`.registry` plus (where SQL-expressible) a DuckDB oracle string;
``__spark_entry__.py`` at the repo root exposes them to the driver.
"""

from __future__ import annotations

import importlib
import itertools
import pkgutil
from pathlib import Path

from . import registry
from .api import CmdbEngine
from .registry import ORACLE, QUERIES

#: module paths whose ids the driver checks first; line 1 is the
#: command that regenerates the rest of the file
DRIVER_FRONT = Path(__file__).with_name("DRIVER_FRONT")

_LOADED = False


def load_all():
    """Import every submodule (idempotent) and put the registry in the
    driver's check order; returns the registry.

    The driver checks ids in registration order under a time budget.
    Ids defined in the :data:`DRIVER_FRONT` modules (code changed since
    the last driver-checked commit) go first, round-robin across those
    modules in file order, registration order within each; every other
    id follows in import order."""
    global _LOADED
    if not _LOADED:
        for mod in pkgutil.walk_packages(__path__, __name__ + "."):
            importlib.import_module(mod.name)
        by_module = {m: [] for m in driver_front_modules()}
        for qid, fn in QUERIES.items():
            if fn.__module__ in by_module:
                by_module[fn.__module__].append(qid)
        front = [q for row in itertools.zip_longest(*by_module.values()) for q in row if q]
        fronted = set(front)
        order = front + [q for q in QUERIES if q not in fronted]
        for d in (QUERIES, ORACLE):
            snap = {k: d[k] for k in order if k in d}
            d.clear()
            d.update(snap)
        _LOADED = True
    return registry


def driver_front_modules() -> list[str]:
    """Module names of the :data:`DRIVER_FRONT` paths, in file order."""
    paths = DRIVER_FRONT.read_text().splitlines()[1:]
    return [p.removesuffix(".py").replace("/", ".") for p in paths]


__all__ = ["QUERIES", "ORACLE", "load_all", "registry", "CmdbEngine"]
