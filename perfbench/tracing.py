"""Instrumentation for the traced run.

Timed runs use none of this. The traced run turns on, per session:

- an uncompressed event log (``spark.eventLog.compress=false``: Spark 4's
  default codec is zstd and ``zstandard`` is not installed), parsed after
  the session stops. The client thread sets the job group and the local
  property :data:`QID_PROP` to the query's dispatch id; threads Spark
  starts from it inherit the property, so a streaming query's
  micro-batch jobs (which Spark puts in a job group of their own, the
  run id) still name the query that started them;
- a ``QueryExecutionListener`` (a py4j callback) that reads the Catalyst
  phase times of each noop write; the write's child plan carries a tree
  tag naming the query id, because the listener runs on the listener
  bus, not on the client thread;
- a ``StreamingQueryListener`` that sums micro-batch progress per run id;
  the event log maps each run id to its query.
"""

from __future__ import annotations

import json
import os
import threading
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

#: per-job-group execution counters, in the order they are reported
EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "failed_tasks",
    "task_wait_ms",
)

STREAM_KEYS = ("microbatches", "input_rows", "batch_ms", "state_rows", "state_memory_bytes")

#: the packages a query id is attributed to, by the module defining it
PACKAGES = ("operators", "llm", "streaming", "sources", "plans", "functions")

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_TAG_NAME = "perfbench.qid"

#: local property naming the dispatch (query id and sequence number)
QID_PROP = "perfbench.qid"


def _owner(props: dict | None) -> str:
    props = props or {}
    return props.get(QID_PROP) or props.get("spark.jobGroup.id") or ""


def parse_event_log(path: str) -> tuple[dict[str, dict], dict[str, list[int]], dict[str, str]]:
    """Parse an uncompressed, non-rolling event log file.

    Returns ``(exec_by_owner, job_times, run_owner)``: the :data:`EXEC_KEYS`
    counters summed per owner (:data:`QID_PROP`, else the job group, else
    ``""``), the submission times (epoch ms) of each owner's jobs, and the
    owner of each job group that differs from it (streaming run ids)."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0))
    job_times: dict[str, list[int]] = defaultdict(list)
    run_owner: dict[str, str] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = _owner(props)
                out[group]["jobs"] += 1
                job_times[group].append(ev["Submission Time"])
                job_group = props.get("spark.jobGroup.id")
                if job_group and job_group != group:
                    run_owner[job_group] = group
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = _owner(ev.get("Properties"))
                stage_group[info["Stage ID"]] = group
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                    "Submission Time", 0
                )
                out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(out[stage_group.get(ev["Stage ID"], "")], ev, stage_submit)
    return dict(out), dict(job_times), run_owner


def _add_task(acc: dict, ev: dict, stage_submit: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    submitted = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
    if submitted:
        acc["task_wait_ms"] += max(0, info["Launch Time"] - submitted)
    acc["executor_run_ms"] += m.get("Executor Run Time", 0)
    acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    acc["jvm_gc_ms"] += m.get("JVM GC Time", 0)
    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)


def find_event_log(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return path


class Tracer:
    """Listeners of one traced session, and the per-query records they feed."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.lock = threading.Lock()
        self.phases: dict[str, dict[str, float]] = {}
        self.stream: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STREAM_KEYS, 0))
        jvm = spark._jvm
        self._tag = jvm.org.apache.spark.sql.catalyst.trees.TreeNodeTag(_TAG_NAME)
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._qel = _PhaseListener(self)
        spark._jsparkSession.listenerManager().register(self._qel)
        self._sql = _StreamListener(self)
        spark.streams.addListener(self._sql)

    def begin(self, qid: str) -> None:
        """Called on the client thread before the query function runs."""
        sc = self.spark.sparkContext
        sc.setJobGroup(qid, qid)
        sc.setLocalProperty(QID_PROP, qid)

    def tag(self, df, qid: str) -> float:
        """Tag the DataFrame's plan with its id; return its analysis ms."""
        df._jdf.logicalPlan().setTagValue(self._tag, qid)
        return _phase_ms(df._jdf.queryExecution().tracker(), "analysis")

    def end(self) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup("", "")
        sc.setLocalProperty(QID_PROP, None)

    def drain(self) -> None:
        """Wait until every queued listener event has been delivered."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

def _phase_ms(tracker, name: str) -> float:
    ph = tracker.phases().get(name)
    return float(ph.get().durationMs()) if ph.isDefined() else 0.0


class _PhaseListener:
    def __init__(self, tracer: Tracer):
        self.t = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        child = qe.logical().children()
        if child.size() != 1:
            return
        tagged = child.head().getTagValue(self.t._tag)
        if not tagged.isDefined():
            return
        tr = qe.tracker()
        with self.t.lock:
            self.t.phases[tagged.get()] = {
                "optimization_ms": _phase_ms(tr, "optimization"),
                "planning_ms": _phase_ms(tr, "planning"),
            }

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: Tracer):
        self.t = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self.t.lock:
            acc = self.t.stream[str(p.runId)]
            acc["microbatches"] += 1
            acc["input_rows"] += p.numInputRows
            acc["batch_ms"] += p.batchDuration
            # state size is a level, not a flow: keep its peak over batches
            acc["state_rows"] = max(acc["state_rows"], sum(s.numRowsTotal for s in p.stateOperators))
            acc["state_memory_bytes"] = max(
                acc["state_memory_bytes"], sum(s.memoryUsedBytes for s in p.stateOperators)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def per_id_layers(recs, exec_by_owner, job_times, run_owner, tracer, package) -> list[dict]:
    """One row per dispatched query: its construction and execution split,
    Catalyst phases, eager jobs, execution counters (streaming micro-batch
    jobs included) and the progress of the streaming runs it started."""
    runs: dict[str, list[str]] = defaultdict(list)
    for run_id, owner in run_owner.items():
        runs[owner].append(run_id)
    rows = []
    for r in recs:
        constructed = r.constructed or r.end
        row = {
            "qid": r.qid,
            "package": package[r.qid],
            "client": r.client,
            "error": r.error,
            "latency_s": r.end - r.start,
            "construct_s": constructed - r.start,
            "execute_s": r.end - constructed,
            "analysis_ms": r.analysis_ms,
            **tracer.phases.get(r.group, {"optimization_ms": 0.0, "planning_ms": 0.0}),
            # jobs launched before the action started: eager protocol work
            "eager_jobs": sum(
                1
                for t in job_times.get(r.group, ())
                if not r.action_epoch_ms or t < r.action_epoch_ms
            ),
        }
        row.update(exec_by_owner.get(r.group, dict.fromkeys(EXEC_KEYS, 0)))
        for k in STREAM_KEYS:
            row["stream_" + k] = sum(tracer.stream.get(g, {}).get(k, 0) for g in runs[r.group])
        rows.append(row)
    return rows


def layer_metrics(rows: list[dict], cpu: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of a traced window, each per dispatched query, so
    the package rows add up to the registry row."""
    n = max(len(rows), 1)

    def mean(key, rs=rows):
        return sum(r[key] for r in rs) / n

    out = {
        "registry.construct_s": mean("construct_s"),
        "registry.eager_jobs": mean("eager_jobs"),
        "catalyst.analysis_ms": mean("analysis_ms"),
        "catalyst.optimization_ms": mean("optimization_ms"),
        "catalyst.planning_ms": mean("planning_ms"),
    }
    out.update({f"exec.{k}": mean(k) for k in EXEC_KEYS})
    out.update(
        {
            "proc.jvm_cpu_s": cpu["jvm"] / n,
            "proc.python_worker_cpu_s": cpu["python_worker"] / n,
            "proc.driver_python_cpu_s": cpu["driver_python"] / n,
        }
    )
    for pkg in PACKAGES:
        mine = [r for r in rows if r["package"] == pkg]
        out[f"{pkg}.construct_s"] = mean("construct_s", mine)
        out[f"{pkg}.execute_s"] = mean("execute_s", mine)
        out[f"{pkg}.exec_cpu_ms"] = mean("executor_cpu_ms", mine)
    out.update({f"streaming.{k}": mean("stream_" + k) for k in STREAM_KEYS})
    return out
