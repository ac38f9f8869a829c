#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the engine, at sf0.1, on 4 cores.

Usage (from the repository root):

    python3 perfbench/run.py --workload cmdb_etl --seed 1 --seconds 20 --trace 0
    python3 -m pytest perfbench/tests -q      # the harness's self-tests

Workloads (``perfbench/workloads.py``) split the registered query ids:
``cmdb_etl`` (sync and ingest beside the relational query mix: sources,
sinks, stores, Structured Streaming and many short queries) and
``llm_curation`` (dedup, similarity and text kernels in Python workers).

A run imports the engine, launches its own JVM, builds the session once
on it and warms it up with the flagship query. It then ramps: one
unmeasured pass over the workload's timed set at sf0.001. All of that is
``setup_s``. The timed window runs that fixed set (``workloads.timed_set``)
as a closed loop of client threads for ``--seconds``. The seed permutes the
dispatch order within small blocks and picks the ids the output check
compares with DuckDB afterwards, from the whole workload; nothing else.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
window twice, untraced and then traced (each on a freshly launched JVM),
prints the per-layer metrics with the tracing overhead, and writes a
per-id layer artifact to ``.perfbench/out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The lines before it
give the pinned settings and an ungated run record (DuckDB host-speed
reference, tail-rule percentile, peak RSS, check outcomes). Nothing of a
previous run is read; everything is written under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "4g"  # the session default (24g) exceeds a 16 GB host

def declared_metrics(trace: int) -> dict[str, str]:
    """Name → unit of the metrics ``BENCHMARK.json`` declares for this mode:
    the end-to-end ones for a timed run, the per-layer ones for a traced run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def pin_environment(args, run_dir: str) -> dict:
    """Fix every setting a run depends on, before Spark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    for d in (tmp, local, os.path.join(run_dir, "eventlog"), os.path.join(WORK, "out")):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # Python workers import the engine's modules from the checkout
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        }
    )
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path.insert(0, ROOT)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "driver_memory": DRIVER_MEMORY,
        "spark_local_dirs": local,
        "tmpdir": tmp,
    }


def setup(h, settings, queries, order, run_dir, import_s, event_log_dir=None):
    """Launch the JVM and build the session on it once, then ramp.
    ``setup_s`` is what a run pays before its window: importing the engine,
    the cold JVM launch and session build, the warm-up and the ramp, so
    work moved into any of them shows in it."""
    os.environ["PYSPARK_SUBMIT_ARGS"] = h.launch_args(run_dir, event_log_dir)
    spark, build_s, warmup_s = h.setup_session()
    t = time.perf_counter()
    ramp_failed = h.ramp(spark, queries, order, settings["cpus"])
    ramp_s = time.perf_counter() - t
    info = {
        "import_s": import_s,
        "build_s": build_s,
        "warmup_s": warmup_s,
        "ramp_s": ramp_s,
        "ramp_failed": ramp_failed,
        "setup_s": import_s + build_s + warmup_s + ramp_s,
    }
    return spark, info


def finish(h, w, settings, spark, queries, oracles, ids, ref_ids):
    """Output check and DuckDB host-speed reference, then stop the JVM."""
    sf = settings["sf_dir"]
    con = h.duck_connect(sf, settings["cpus"])
    checks = h.check_outputs(spark, queries, oracles, w.check_sample(ids, settings["seed"]), sf, con)
    h.stop_jvm(spark)
    ref = h.duck_reference(con, oracles, ref_ids)
    con.close()
    return checks, ref


def window(h, settings, spark, queries, order, tracer=None):
    """The timed window: (recs, end-to-end metrics, cpu split, rss peak)."""
    seconds = settings["seconds"]
    recs, t0, _, cpu, rss = h.measured_window(
        spark, queries, order, settings["clients"], seconds, settings["sf_dir"], tracer
    )
    return recs, h.e2e_metrics(recs, t0, seconds, sum(cpu.values()), settings["tail_pct"]), cpu, rss


def timed_run(h, w, settings, queries, oracles, ids, order, run_dir, import_s):
    spark, info = setup(h, settings, queries, order, run_dir, import_s)
    recs, e2e, _, rss = window(h, settings, spark, queries, order)
    checks, ref = finish(h, w, settings, spark, queries, oracles, ids, w.reference_ids(ids))
    record = dict(
        info, rss_peak_mb=rss / 2**20, duckdb_ref_s=sum(ref.values()), duckdb_ref_ids=sorted(ref)
    )
    return recs, checks, {"setup_s": info["setup_s"], **e2e}, record


def traced_run(h, w, settings, queries, oracles, ids, order, run_dir, import_s):
    """The window twice, each on a freshly launched JVM: untraced as a timed
    run measures it, then traced with an event log. The traced run skips
    the output check (timed runs make it) and times every oracle of the
    workload in DuckDB instead of the reference subset."""
    from perfbench import tracing

    spark, _ = setup(h, settings, queries, order, run_dir, import_s)
    _, plain, _, _ = window(h, settings, spark, queries, order)
    h.stop_jvm(spark)

    log_dir = os.path.join(run_dir, "eventlog")
    spark, info = setup(h, settings, queries, order, run_dir, import_s, log_dir)
    tracer = tracing.Tracer(spark)
    tmp = settings["tmpdir"]
    tmp_before = len(os.listdir(tmp))
    recs, traced, cpu, rss = window(h, settings, spark, queries, order, tracer)
    tracer.drain()
    life = h.lifecycle(spark, tmp, tmp_before)
    app_id = spark.sparkContext.applicationId
    h.stop_jvm(spark)
    con = h.duck_connect(settings["sf_dir"], settings["cpus"])
    ref = h.duck_reference(con, oracles, ids)
    con.close()

    parsed = tracing.parse_event_log(tracing.find_event_log(log_dir, app_id))
    package = {q: w.package_of(w.defining_module(queries[q])) for q in ids}
    rows = tracing.per_id_layers(recs, *parsed, tracer, package)
    metrics = {
        "session.import_s": import_s,
        "session.build_s": info["build_s"],
        "session.warmup_s": info["warmup_s"],
        "session.ramp_s": info["ramp_s"],
    }
    metrics.update(tracing.layer_metrics(rows, cpu))
    metrics["proc.rss_peak_mb"] = rss / 2**20
    metrics.update(life)
    metrics["trace.throughput_overhead"] = plain["throughput_qps"] / traced["throughput_qps"] - 1.0
    metrics["trace.latency_p50_overhead"] = traced["latency_p50_s"] / plain["latency_p50_s"] - 1.0
    metrics["host.duckdb_ref_s"] = sum(ref.values())
    record = dict(info, untraced=plain, traced=traced, duckdb_ref_s_by_id=ref, per_id=rows)
    return recs, {}, metrics, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    units = declared_metrics(args.trace)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    settings = pin_environment(args, run_dir)
    # stdout carries only this harness's lines: the JVM and the engine
    # write to the inherited fd 1, which now points at stderr
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    try:
        t_import = time.perf_counter()
        from perfbench import harness as h
        from perfbench import workloads as w

        import __spark_entry__ as entrymod

        import_s = time.perf_counter() - t_import

        if args.workload not in w.FAMILIES:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(w.FAMILIES)}")
        # the benchmark scale factor sits beside the smoke-test one
        sf_dir = os.environ.get(
            "PERFBENCH_SF_DIR", os.path.join(os.path.dirname(entrymod.SMOKE_SF_DIR), "sf0.1")
        )
        queries, oracles = entrymod.queries(), entrymod.oracle_sql()
        ids = w.partition(queries)[args.workload]
        timed = w.timed_set(args.workload, ids)
        order = w.dispatch_order(args.workload, timed, args.seed)
        settings.update(
            clients=w.CLIENTS,
            tail_pct=w.TAIL_PCT,
            sf_dir=sf_dir,
            ids=len(ids),
            timed_ids=len(timed),
        )
        print(json.dumps({"settings": settings}), file=out, flush=True)
        run = traced_run if args.trace else timed_run
        t_start = time.perf_counter()
        recs, checks, metrics, record = run(
            h, w, settings, queries, oracles, ids, order, run_dir, import_s
        )
        h.wait_children()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    window_failed = sum(r.error is not None for r in recs)
    check_failed = sum(v != "ok" for v in checks.values())
    attempted, failed = len(recs) + len(checks), window_failed + check_failed
    if args.trace:
        metrics["failed_ratio"] = failed / attempted
    n_ok = len(recs) - window_failed
    record.update(
        {
            "settings": settings,
            "run_wall_s": time.perf_counter() - t_start,
            "samples": n_ok,
            "tail_rule_pct": w.tail_percentile(n_ok),
            "checks": checks,
            "errors": {r.group: r.error for r in recs if r.error},
            "latencies": [(r.qid, r.end - r.start) for r in recs],
        }
    )
    tag = f"{args.workload}_seed{args.seed}{'_trace' if args.trace else ''}"
    with open(os.path.join(WORK, "out", f"{tag}.json"), "w") as fh:
        json.dump({"metrics": metrics, **record}, fh, indent=1, default=str)
    brief = {k: v for k, v in record.items() if k not in ("per_id", "latencies", "duckdb_ref_s_by_id")}
    print(json.dumps({"run": brief}, default=str), file=out)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    result = {
        "correct": check_failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
