"""The event-log fold, job attribution, span self time and the percentile
helper, on a small checked-in synthetic event log."""

import json
from pathlib import Path

import pytest

import metrics
import tracing

LOG = Path(__file__).with_name("eventlog.json")


@pytest.fixture(scope="module")
def jobs():
    return tracing.fold_events(tracing.read_event_log(LOG))


def test_fold_counts_every_task_metric_once(jobs):
    j0, j1, j2 = jobs[0], jobs[1], jobs[2]
    assert (j0.group, j0.submit_ms) == ("p2-op0", 1000000)
    assert (j0.stages, j0.tasks, j0.failed_tasks) == (2, 4, 1)
    assert (j0.run_ms, j0.cpu_ns, j0.gc_ms) == (305, 260_000_000, 7)
    assert (j0.shuffle_read_bytes, j0.shuffle_write_bytes) == (750, 500)
    assert (j0.spill_bytes, j0.input_bytes, j0.output_bytes) == (
        1500, 8000, 700)
    assert j0.peak_exec_mem_bytes == 4096
    assert j0.task_ms == [(1000010, 1000110), (1000050, 1000200),
                          (1000300, 1000320), (1000330, 1000400)]
    # job 1 lists stage 1 again, but stage 1 ran (and is counted) in job 0
    assert j1.group is None
    assert (j1.stages, j1.tasks, j1.run_ms, j1.shuffle_read_bytes) == (
        1, 1, 80, 500)
    assert (j2.group, j2.stages, j2.tasks) == ("canary", 1, 1)


def _op(tracer, group, start, end):
    tracer.spans.append(tracing.Span(group, "op", None, start, end,
                                     end - start, {"group": group}))
    return len(tracer.spans) - 1


def test_attribute_by_group_then_by_submission_time(jobs):
    t = tracing.Tracer()
    a = _op(t, "p2-op0", 999.0, 1000.45)
    b = _op(t, "p2-op1", 1000.45, 1000.7)
    by_op = tracing.attribute(jobs, t, [a, b])
    # job 1 has no group and was submitted inside op b; the canary job
    # belongs to no operation
    assert [j.job_id for j in by_op[a]] == [0]
    assert [j.job_id for j in by_op[b]] == [1]


def test_spark_totals(jobs):
    m = tracing.spark_totals([jobs[0], jobs[1]], 1000.0, 1001.0, cores=4)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (2, 3, 5)
    assert m["spark.failed_tasks"] == 1
    assert m["spark.executor_run_s"] == pytest.approx(0.385)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.33)
    assert m["spark.task_busy_frac"] == pytest.approx(0.385 / 4)
    # tasks cover 0.19 + 0.02 + 0.07 + 0.09 s of the 1 s window
    assert m["spark.no_task_frac"] == pytest.approx(0.63)
    assert m["spark.shuffle_read_bytes"] == 1250
    assert m["spark.peak_exec_mem_bytes"] == 4096


def test_self_time_subtracts_the_union_of_timed_children():
    t = tracing.Tracer()
    t.spans.append(tracing.Span("pass", "pass", None, 0.0, 10.0, 10.0))
    for start, end in ((1.0, 4.0), (3.0, 5.0), (8.0, 12.0)):
        t.spans.append(tracing.Span("op", "op", 0, start, end, end - start))
    t.add("node", "node", 0, 100.0)   # duration-only: not placed in time
    assert t.self_seconds(0) == pytest.approx(10.0 - 4.0 - 2.0)


def test_percentile_refuses_fewer_than_ten_samples_beyond():
    xs = list(range(1, 101))
    assert tracing.percentile(xs, 90) == 90
    with pytest.raises(ValueError):
        tracing.percentile(xs[:99], 90)
    assert tracing.percentile(range(20), 50) == 9
    with pytest.raises(ValueError):
        tracing.percentile(range(19), 50)


def test_benchmark_json_lists_the_printed_metrics():
    spec = json.loads((Path(__file__).parents[2] / "BENCHMARK.json")
                      .read_text())
    assert [w["name"] for w in spec["workloads"]] == list(
        metrics.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == (
        metrics.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        metrics.PER_LAYER)


def test_workloads_match_the_metric_catalogue():
    import workloads
    from redshift_to_lakehouse_migration_spark.llm.pipeline import STAGES
    assert tuple(workloads.WORKLOADS) == metrics.WORKLOAD_NAMES
    assert metrics.FUNNEL_FILTERS == STAGES[1:]
    assert set(workloads.MEDALLION_NODES) | {"outputs"} == set(
        metrics.MEDALLION_GROUPS)
    for make in workloads.WORKLOADS.values():
        wl = make()
        assert {workloads.MODULE_OF[op] for op in wl.ops} <= (
            set(metrics.QUERY_MODULES) | {"medallion.flow", "llm.pipeline"})
        assert all(op in workloads.ORACLES or op in workloads.INVARIANTS
                   or op in (workloads.MEDALLION, workloads.CORPUS)
                   for op in wl.ops)
