"""End-to-end figures of a window, and the metric names BENCHMARK.json declares."""

from __future__ import annotations

import pytest

from perfbench import harness, run


def test_failed_queries_count_in_neither_cpu_nor_latency():
    recs = [
        harness.Rec("q1", "q1#0", 0, start=0.0, end=2.0),
        harness.Rec("q2", "q2#1", 1, start=0.0, end=4.0),
        harness.Rec("q3", "q3#2", 0, start=2.0, end=2.1, error="boom"),
    ]
    m = harness.e2e_metrics(recs, t0=0.0, seconds=10.0, cpu_s=9.0, tail_pct=60.0)
    assert m["cpu_s_per_query"] == pytest.approx(4.5)  # 9 s over 2 completed queries
    assert m["throughput_qps"] == pytest.approx(0.2)
    assert 2.0 <= m["latency_p50_s"] <= 4.0


def test_a_straddling_query_counts_by_its_share_inside_the_window():
    recs = [harness.Rec("q1", "q1#0", 0, start=8.0, end=12.0)]
    m = harness.e2e_metrics(recs, t0=0.0, seconds=10.0, cpu_s=1.0, tail_pct=60.0)
    assert m["throughput_qps"] == pytest.approx(0.05)


def test_declared_metrics_cover_what_each_mode_prints():
    e2e = run.declared_metrics(0)
    window = harness.e2e_metrics([harness.Rec("q1", "q1#0", 0, 0.0, 1.0)], 0.0, 1.0, 1.0, 60.0)
    assert set(e2e) == {"setup_s", *window}
    layers = run.declared_metrics(1)
    assert not set(e2e) & set(layers)
    assert {"session.import_s", "session.build_s", "session.warmup_s", "session.ramp_s"} <= set(layers)
