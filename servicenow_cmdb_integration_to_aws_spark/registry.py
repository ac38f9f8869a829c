"""Query/oracle registry backing the driver contract (__spark_entry__.py).

Every operator from SURVEY.md §2 registers itself here with
``@query("<id>", oracle="<duckdb sql>")``. The callable signature is
``(spark, sf_dir) -> DataFrame``; the oracle is ANSI SQL DuckDB runs on
pre-registered views of the same parquet tables.

Parity policy (see SURVEY §7 "hard parts", FIXTURES.md notes):
- session timezone UTC on both engines (``session.tune`` / harness).
- money doubles are exactly-2dp values (verified on the data): cast to
  DECIMAL before sums/products so aggregates are EXACT, then cast the
  final value to DOUBLE identically on both sides → bit-identical.
- ``events.ts`` is ns in parquet: Spark truncates to µs on read, so
  oracles read events through a µs-cast CTE (:data:`EVENTS_US`).
- alias every computed column the same on both sides (driver hashes by
  sorted column name).
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .session import tune

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

#: DuckDB CTE presenting `events` at microsecond precision (parquet is ns;
#: Spark reads µs — FIXTURES.md "Oracle-parity notes").
EVENTS_US = (
    "WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
    "event_type, value, props FROM events)"
)


def query(qid: str, oracle: Optional[str] = None):
    """Register a (spark, sf_dir) -> DataFrame callable + optional oracle."""

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = f"q_{qid}"
        wrapped.__qualname__ = wrapped.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        if qid in QUERIES:
            raise ValueError(f"duplicate query id {qid!r}")
        QUERIES[qid] = wrapped
        if oracle is not None:
            ORACLE[qid] = textwrap.dedent(oracle).strip()
        return fn

    return deco
