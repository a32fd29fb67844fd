"""The per-job-group roll-up attributes every job of a span to it."""

from __future__ import annotations

import pytest

import spans as sp


def _job(job_id, group, t_ms, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}


def _stage(stage_id, t0_ms, t1_ms, cpu_ns):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id, "Submission Time": t0_ms, "Completion Time": t1_ms,
        "Accumulables": [{"Name": "internal.metrics.executorCpuTime", "Value": cpu_ns}]}}


def test_covered_unions_and_clips():
    assert sp._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert sp._covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert sp._covered([], 0, 1) == 0


def test_rollup_synthetic_events():
    events = [
        _job(0, "span-0", 1000, [0, 1]), _stage(0, 1000, 1500, 2e9),
        # stage 1 skipped: listed in the job, never completed
        _job(1, "span-1", 3000, [2]), _stage(2, 3000, 3200, 1e9),
        _job(2, "span-1", 3300, [3]), _stage(3, 3300, 3400, 1e9),
    ]
    groups, jobs = sp.rollup(events)
    parent = sp.Span("p", None, "span-1", 2.5, 4.0)
    child = sp.Span("c", "p", "span-0", 0.5, 2.0)
    m = sp.span_metrics([child, parent], groups)
    assert m["c"]["jobs"] == 1 and m["p"]["jobs"] == 2
    assert m["p"]["executor_cpu_s"] == pytest.approx(2.0)
    assert m["p"]["driver_idle_s"] == pytest.approx(1.5 - 0.3)
    assert m["p"]["self_s"] == pytest.approx(1.5 - 1.5)
    assert sp.unattributed_jobs([child, parent], jobs) == []
    assert sp.unattributed_jobs([sp.Span("x", None, "span-9", 0.9, 1.1)], jobs) == [0]


def test_flagship_cli_span_holds_its_four_jobs(tmp_path):
    """A traced flagship pass on a tiny input: every job started inside a
    span carries that span's group, and ``cli`` (one ``run`` call) holds
    the 4 jobs of the plan."""
    import run
    from workloads import Flagship

    run.pin_env(tmp_path, 2)
    wl = Flagship()
    wl.n_entities, wl.sample_entities = 40, 4
    inp = wl.generate(1, tmp_path / "data", 2)
    ref = wl.reference(inp)
    spark = run.start_spark(tmp_path, 2, "perfbench-test", tmp_path / "eventlog")
    runner = run.Runner(wl, inp, ref, tmp_path / "out")
    try:
        tracer = sp.Tracer(spark.sparkContext)
        assert wl.trace_pass(tracer, spark, inp, runner.out, runner.cli, ref) is None
    finally:
        run.stop_spark(spark)
    assert (runner.attempted, runner.failed) == (1, 0), runner.errors
    groups, jobs = sp.rollup(sp.read_event_log(tmp_path / "eventlog"))
    m = sp.span_metrics(tracer.spans, groups)
    assert m["cli"]["jobs"] == 4
    assert all(m[s.name]["jobs"] >= 1 for s in tracer.spans)
    assert sp.unattributed_jobs(tracer.spans, jobs) == []
    span_groups = {s.group for s in tracer.spans}
    assert sum(m[s.name]["jobs"] for s in tracer.spans) == sum(g in span_groups for _, g, _ in jobs)
    assert m["operators.features.token_stats_arrow"]["python_s"] > 0
    assert m["cli"]["output_mb"] > 0
    assert m["sources.scan"]["input_mb"] > 0.05
