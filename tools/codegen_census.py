#!/usr/bin/env python
"""Census of the registry's generated-code working set.

Runs every registered id (or the ids given) twice, in registry order,
through the noop sink on one ``build_session`` session, and reads the
JVM's codegen counters around each invocation:

- pass 1 compiles = the distinct generated classes the ids need (the
  cache holds them all, so nothing compiles twice within the pass);
- pass 2 compiles = steady-state recompiles, listed per id;
- Janino compile ms of each pass, and Metaspace MB at the end.

Exit code 1 when the distinct classes exceed
``session.CODEGEN_CACHE_MAX_ENTRIES`` (the cache would evict, and a
long-lived session would recompile again: raise the constant), or when
an id fails.

Usage:
    python tools/codegen_census.py [--sf DIR] [id ...]
"""

from __future__ import annotations

import argparse
import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from servicenow_cmdb_integration_to_aws_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    build_session,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=entrymod.SMOKE_SF_DIR)
    ap.add_argument("ids", nargs="*")
    args = ap.parse_args()

    queries = entrymod.queries()
    ids = args.ids or list(queries)
    unknown = [q for q in ids if q not in queries]
    if unknown:
        print(f"?? not registered: {' '.join(unknown)}")
        return 1

    spark = build_session("codegen-census")
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    failed = set()

    def run_pass() -> tuple[dict[str, int], float, float]:
        per_id = {}
        ns0, t0 = codegen.compileTime(), time.perf_counter()
        for qid in ids:
            c0 = compiles.getCount()
            try:
                queries[qid](spark, args.sf).write.mode("overwrite").format("noop").save()
            except Exception as ex:  # report every failing id, then fail the census
                failed.add(qid)
                print(f"FAIL {qid}: {type(ex).__name__}: {str(ex)[:200]}", flush=True)
            per_id[qid] = compiles.getCount() - c0
        return per_id, (codegen.compileTime() - ns0) / 1e6, time.perf_counter() - t0

    first, ms1, wall1 = run_pass()
    second, ms2, wall2 = run_pass()

    metaspace = next(
        p.getUsage().getUsed()
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getName() == "Metaspace"
    )
    distinct, recompiles = sum(first.values()), sum(second.values())
    hot = sorted(((n, q) for q, n in second.items() if n), reverse=True)
    print(f"ids                 {len(ids)}  (sf {args.sf})")
    print(f"distinct classes    {distinct}  (pass-1 compiles; cache max {CODEGEN_CACHE_MAX_ENTRIES})")
    print(f"pass-1 compile ms   {ms1:.0f}  (wall {wall1:.1f} s)")
    print(f"pass-2 recompiles   {recompiles} over {len(hot)} ids")
    print(f"pass-2 compile ms   {ms2:.0f}  (wall {wall2:.1f} s)")
    print(f"metaspace MB        {metaspace / 2**20:.0f}")
    for n, q in hot:
        print(f"  {q:<40} {n}")
    spark.stop()
    if failed:
        print(f"{len(failed)} ids failed: {' '.join(sorted(failed))}")
        return 1
    if distinct > CODEGEN_CACHE_MAX_ENTRIES:
        print(f"distinct classes {distinct} > CODEGEN_CACHE_MAX_ENTRIES {CODEGEN_CACHE_MAX_ENTRIES}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
