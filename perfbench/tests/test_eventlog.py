"""The event-log parser: exact sums on a hand-written log, and the format
a real local session writes."""

from __future__ import annotations

import json
import os
import time

from perfbench import tracing


def _task(stage, launch, reason="Success", **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": launch},
        "Task Metrics": metrics,
    }


def test_parser_sums_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 100,
         "Properties": {"spark.jobGroup.id": "q1#0"}},
        {"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": "q1#0"},
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1000}},
        _task(0, 1005, **{"Executor Run Time": 7, "Executor CPU Time": 3_000_000,
                          "JVM GC Time": 1, "Disk Bytes Spilled": 11,
                          "Input Metrics": {"Bytes Read": 50},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 20}}),
        _task(0, 1010, reason="ExceptionFailure",
              **{"Shuffle Read Metrics": {"Remote Bytes Read": 2, "Local Bytes Read": 3},
                 "Output Metrics": {"Bytes Written": 9}}),
        {"Event": "SparkListenerJobStart", "Submission Time": 150,
         "Properties": {"spark.jobGroup.id": "run-uuid", "perfbench.qid": "q1#0"}},
        {"Event": "SparkListenerJobStart", "Submission Time": 200, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Properties": None,
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 2000}},
        _task(1, 2000),
    ]
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    by_group, job_times, run_owner = tracing.parse_event_log(str(log))
    assert by_group["q1#0"] == {
        "jobs": 2, "stages": 1, "tasks": 2, "executor_run_ms": 7, "executor_cpu_ms": 3.0,
        "jvm_gc_ms": 1, "shuffle_read_bytes": 5, "shuffle_write_bytes": 20, "spill_bytes": 11,
        "input_bytes": 50, "output_bytes": 9, "failed_tasks": 1, "task_wait_ms": 15,
    }
    assert by_group[""]["tasks"] == 1 and by_group[""]["task_wait_ms"] == 0
    assert job_times == {"q1#0": [100, 150], "": [200]}
    assert run_owner == {"run-uuid": "q1#0"}


def test_parser_reads_a_local_session_log(tmp_path):
    """A tiny local session with the traced run's event-log settings."""
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master("local[2]").appName("perfbench-eventlog-test")
    conf = dict(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": f"file://{tmp_path}",
                                            "spark.ui.enabled": "false"})
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
        sc.setJobGroup("grouped#0", "grouped#0")
        before_ms = time.time() * 1000
        df = spark.range(0, 20000, numPartitions=4)
        df.groupBy((df.id % 7).alias("k")).count().write.format("noop").mode("overwrite").save()
        sc.setJobGroup("", "")
    finally:
        spark.stop()
    by_group, job_times, _ = tracing.parse_event_log(tracing.find_event_log(str(tmp_path), app_id))
    g = by_group["grouped#0"]
    assert g["jobs"] >= 1 and g["stages"] >= 2 and g["tasks"] >= 4
    assert g["shuffle_write_bytes"] > 0 and g["shuffle_read_bytes"] > 0
    assert g["executor_run_ms"] >= 0 and g["executor_cpu_ms"] > 0
    assert g["failed_tasks"] == 0 and g["task_wait_ms"] >= 0
    assert all(t >= before_ms - 1000 for t in job_times["grouped#0"])
    assert not os.path.exists(os.path.join(tmp_path, app_id + ".inprogress"))
