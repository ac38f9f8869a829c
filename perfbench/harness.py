"""The measuring half of the benchmark: sessions, the closed-loop window,
the output check and the DuckDB host-speed reference.

Everything goes through the engine's public surface:
``session.build_session``, ``__spark_entry__.queries()[qid](spark, sf_dir)``
and a ``noop``-sink write as the action. ``run.py`` pins the environment
before this module is imported.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import SparkContext

import __spark_entry__ as entrymod
from servicenow_cmdb_integration_to_aws_spark.session import build_session
from servicenow_cmdb_integration_to_aws_spark.sources.tables import TABLE_NAMES

from . import proctree, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_parity():
    """``tools/check_parity.py``: its canonical multiset comparison."""
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(ROOT, "tools", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --------------------------------------------------------------------- setup


def launch_args(work: str, event_log_dir: str | None) -> str:
    """spark-submit arguments for the next JVM launch: its temp dir stays
    in the work dir, and a traced JVM writes an uncompressed event log."""
    args = [f"--driver-java-options=-Djava.io.tmpdir={work}/tmp"]
    if event_log_dir:
        conf = dict(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": f"file://{event_log_dir}"})
        args += [f"--conf={k}={v}" for k, v in conf.items()]
    return " ".join(args + ["pyspark-shell"])


def setup_session():
    """Build a session and run the flagship query once (JVM, codegen and
    parquet-footer warm-up); returns (spark, build_s, warmup_s)."""
    t0 = time.perf_counter()
    spark = build_session("perfbench")
    t1 = time.perf_counter()
    entrymod.entry(spark).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited
    (the next launch then starts cold, with fresh launch arguments)."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout_s: float = 60.0) -> None:
    """Wait until no process started by this one is left (Python workers
    exit once the JVM that forked them is gone)."""
    deadline = time.monotonic() + timeout_s
    me = os.getpid()
    while time.monotonic() < deadline:
        rest = [p for p in proctree.tree(me) if p != me]
        if not rest:
            return
        time.sleep(0.2)
    raise RuntimeError(f"child processes still running: {rest}")


# -------------------------------------------------------------------- window


@dataclass
class Rec:
    """One dispatched query: perf-counter times, and trace fields."""

    qid: str
    group: str
    client: int
    start: float
    end: float = 0.0
    constructed: float = 0.0
    action_epoch_ms: float = 0.0
    error: str | None = None
    analysis_ms: float = 0.0


def run_window(spark, queries, order, clients, seconds, sf_dir, tracer=None):
    """Closed loop: each client sends its next query when the previous one
    has finished its noop write, until ``seconds`` have passed; queries
    in flight at the deadline run to completion. Returns (recs, t0, t_end)."""
    lock = threading.Lock()
    cursor = [0]
    recs: list[Rec] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client(c: int) -> None:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"client-{c}")
        while True:
            with lock:
                now = time.perf_counter()
                if now >= deadline:
                    return
                n = cursor[0]
                cursor[0] += 1
            qid = order[n % len(order)]
            rec = Rec(qid, f"{qid}#{n}", c, now)
            try:
                if tracer is not None:
                    tracer.begin(rec.group)
                df = queries[qid](spark, sf_dir)
                rec.constructed = time.perf_counter()
                if tracer is not None:
                    rec.analysis_ms = tracer.tag(df, rec.group)
                rec.action_epoch_ms = time.time() * 1000.0
                df.write.mode("overwrite").format("noop").save()
            except Exception as ex:  # a failing query is counted, not fatal
                rec.error = f"{type(ex).__name__}: {str(ex)[:300]}"
            finally:
                rec.end = time.perf_counter()
                if tracer is not None:
                    tracer.end()
            with lock:
                recs.append(rec)

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return recs, t0, time.perf_counter()


def e2e_metrics(recs, t0, seconds, cpu_s, tail_pct) -> dict[str, float]:
    """Throughput counts each query by the share of its run inside the
    window, so a long query straddling the deadline counts in part.
    Latency quantiles are Harrell-Davis estimates. Latency and CPU are per
    completed query; failed ones show in the run's ``failed`` count."""
    deadline = t0 + seconds
    ok = [r for r in recs if r.error is None]
    done = sum((min(r.end, deadline) - r.start) / max(r.end - r.start, 1e-9) for r in ok)
    lat = [r.end - r.start for r in ok]
    return {
        "throughput_qps": done / seconds,
        "latency_p50_s": workloads.quantile(lat, 0.5),
        "latency_tail_s": workloads.quantile(lat, tail_pct / 100.0),
        "cpu_s_per_query": cpu_s / max(len(ok), 1),
    }


def ramp(spark, queries, order, threads) -> dict[str, str]:
    """One unmeasured pass over the window's ids at the smoke scale factor,
    on ``threads`` client threads. A long-lived session has long since
    paid each query's first-use costs (codegen, JIT, Python workers, data
    source and streaming start-up); without this pass they landed in the
    window and moved its figures by a third from run to run. Returns the
    ids that failed here (they fail again, counted, in the window)."""

    def one(qid: str) -> None:
        queries[qid](spark, entrymod.SMOKE_SF_DIR).write.mode("overwrite").format("noop").save()

    with ThreadPoolExecutor(threads) as ex:
        futures = {q: ex.submit(one, q) for q in order}
    return {q: repr(f.exception()) for q, f in futures.items() if f.exception() is not None}


def measured_window(spark, queries, order, clients, seconds, sf_dir, tracer=None):
    """The window plus its /proc readings: (recs, t0, t_end, cpu, rss_peak)."""
    me = os.getpid()
    before = proctree.cpu_split(me)
    with proctree.RssSampler(me) as rss:
        recs, t0, t_end = run_window(spark, queries, order, clients, seconds, sf_dir, tracer)
    after = proctree.cpu_split(me)
    cpu = {k: after[k] - before[k] for k in after}
    return recs, t0, t_end, cpu, rss.peak


# ------------------------------------------------------ output check, DuckDB


def duck_connect(sf_dir: str, threads: int):
    import duckdb  # imported here, so the engine's import time is measured alone

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={threads}")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_outputs(spark, queries, oracles, ids, sf_dir, con) -> dict[str, str]:
    """Compare each id's Spark rows with its DuckDB oracle as
    ``tools/check_parity.py`` does: sorted column names, then the exact
    multiset of canonicalized rows. Returns qid → "ok" or the mismatch."""
    parity = _check_parity()
    out = {}
    for qid in ids:
        try:
            sdf = queries[qid](spark, sf_dir)
            s_cols, s_rows = parity.rows_canon(list(sdf.columns), [tuple(r) for r in sdf.collect()])
            cur = con.execute(oracles[qid])
            d_cols, d_rows = parity.rows_canon(
                [d[0] for d in cur.description], cur.fetchall()
            )
        except Exception as ex:
            out[qid] = f"error {type(ex).__name__}: {str(ex)[:300]}"
            continue
        if s_cols != d_cols:
            out[qid] = f"columns spark={s_cols} duckdb={d_cols}"
        elif len(s_rows) != len(d_rows):
            out[qid] = f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}"
        elif s_rows != d_rows:
            out[qid] = "row values differ"
        else:
            out[qid] = "ok"
    return out


def duck_reference(con, oracles, ids) -> dict[str, float]:
    """Serial DuckDB wall per oracle: the host-speed reference."""
    out = {}
    for qid in ids:
        t = time.perf_counter()
        con.execute(oracles[qid]).fetchall()
        out[qid] = time.perf_counter() - t
    return out


# ----------------------------------------------------------------- lifecycle


def lifecycle(spark, tmp: str, tmp_before: int) -> dict[str, float]:
    """What the window left behind: cached RDDs, their bytes, temp entries."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "lifecycle.cached_rdds_end": float(jsc.getPersistentRDDs().size()),
        "lifecycle.cached_bytes_end": float(sum(i.memSize() + i.diskSize() for i in infos)),
        "lifecycle.tmp_entries_leaked": float(len(os.listdir(tmp)) - tmp_before),
    }
