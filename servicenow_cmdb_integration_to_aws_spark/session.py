"""SparkSession factory and runtime tuning.

Design point (SURVEY.md §6/§7): one shared session, AQE on, UTC session
timezone, Arrow enabled. ``spark.sql.shuffle.partitions`` is sized for
the local test harness via ``SPARK_GRAFT_CPUS``; on a real cluster the
same code runs with AQE coalescing partitions at runtime, so the static
number only sets the *upper* bound of the shuffle fan-out at small SF.

100 TB notes:
- every conf set here is cluster-valid; nothing assumes local mode
  except the ``master`` default in :func:`build_session` (tests/bench).
- AQE (adaptive query execution) handles runtime partition coalescing,
  skew-join splitting and broadcast demotion — required at scale and
  harmless at sf0.01.

Codegen class cache: Spark keeps at most
``spark.sql.codegen.cache.maxEntries`` compiled classes per JVM, 100 by
default. The registry generates ~2590 distinct classes over its 274 ids
(``tools/codegen_census.py``) and each benchmark's timed set 236-304, so
at the default a long-lived session evicts every class before its next
use and recompiles each query's code on every invocation (Janino compile
time, then C1/C2 re-JIT of the fresh classes and the GC of the old ones).
:data:`CODEGEN_CACHE_MAX_ENTRIES` holds the whole registry with ~58%
headroom. The conf is STATIC: it is read once when the SparkContext
starts, so only :func:`build_session` can set it, and :func:`tune`
cannot apply it to a session the engine did not build. When ids are
added, re-run ``tools/codegen_census.py``; it exits non-zero once the
distinct classes exceed the constant.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

_WARNED_ACTIVE_SESSION_PIN = False

#: ``spark.sql.codegen.cache.maxEntries`` for sessions the engine builds:
#: the registry's ~2590 distinct generated classes plus headroom (see the
#: module docstring).
CODEGEN_CACHE_MAX_ENTRIES = 4096

#: Confs that are runtime-settable and must hold on ANY session our
#: queries run under — including the driver-owned session passed into
#: ``queries()[id](spark, sf_dir)``, which we do not construct.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # the engine's arithmetic/cast/overflow semantics are verified
    # under ANSI mode (Spark 4 default) — every try_* escape hatch,
    # finite-metric gate and DECIMAL-exact sum assumes it. A caller's
    # session with ANSI off would silently run unverified semantics
    # (overflow wraps instead of raising, bad casts null instead of
    # failing), so the wrapper pins it like the timezone (r14).
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # at 100 TB this is governed by AQE advisory sizes; locally it keeps
    # tiny shuffles from fanning out into hundreds of empty partitions.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # let Python Data Sources receive pushed filters (rest_source.py —
    # the sysparm_query pushdown path)
    "spark.sql.python.filterPushdown.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-provided session (idempotent).

    Also pins this THREAD's JVM active session: ``DataFrameWriter.save``
    resolves registered Python data sources through the JVM thread-local
    active session with NO fall-back to the default session, so a
    custom-format write dispatched from a fresh Python thread (whose
    py4j connection runs on a fresh JVM thread, active session empty)
    throws DATA_SOURCE_NOT_FOUND even though the source is registered
    — the bench concurrent-drain crash. One py4j call, idempotent."""
    try:
        jvm = spark._jvm
        if jvm is not None:
            jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
    except Exception as ex:  # pragma: no cover - private API drift
        # The pin rides a PRIVATE py4j path; on Spark version drift it
        # must degrade loudly (once), not silently re-open the
        # DATA_SOURCE_NOT_FOUND window for worker-thread writes.
        global _WARNED_ACTIVE_SESSION_PIN
        if not _WARNED_ACTIVE_SESSION_PIN:
            _WARNED_ACTIVE_SESSION_PIN = True
            warnings.warn(
                "tune(): could not pin the JVM thread-local active session "
                f"({type(ex).__name__}: {ex}); Python data source writes "
                "from fresh threads may fail with DATA_SOURCE_NOT_FOUND",
                RuntimeWarning,
                stacklevel=2,
            )
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf not settable post-start
            pass
    return spark


def build_session(app_name: str = "cmdb-spark-engine") -> SparkSession:
    """Build the engine's own local session (tests / bench / tools)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # FAIR task scheduling: a multi-tenant drain (bench phase 1,
        # concurrent notebook users) must not let one long stage's task
        # set monopolize every core while 11 queued queries starve —
        # clients put themselves in per-client pools (see bench.run_one)
        # and the pools share the executor fairly. FIFO-equivalent for
        # single-query sessions; strictly better makespan under
        # concurrency. Cluster-valid conf.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = tune(b.getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark
