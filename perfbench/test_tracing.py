"""Tests of the benchmark's trace parsing and metric emission.

The event log fixture is one traced pass of the ``curate`` workload
(Spark 4.1, uncompressed), cut down to the job, task-end and accumulable
fields the parser reads. Needs no Spark session::

    python3 -m pytest perfbench -q
"""
from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402

LOG = os.path.join(HERE, "fixtures", "curate_pass.eventlog")
PASS = os.path.join(HERE, "fixtures", "curate_pass.json")


def _benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _recorded():
    with open(PASS, encoding="utf-8") as f:
        rec = json.load(f)
    return tracing.EventLog.read(LOG), rec["executions"], rec["passes"]


def _task_ends() -> list[dict]:
    with open(LOG, encoding="utf-8") as f:
        evs = [json.loads(line) for line in f]
    return [e for e in evs if e["Event"] == "SparkListenerTaskEnd"]


def test_event_log_counts_tasks_from_task_end_events():
    log, _, _ = _recorded()
    assert len(log.jobs) == 15
    assert len(log.tasks) == len(_task_ends())
    assert all(j.complete >= j.submit for j in log.jobs.values())


def test_jobs_map_to_executions_by_group_and_stream_jobs_by_window():
    log, executions, _ = _recorded()
    owner = tracing.assign_jobs(log, executions)
    assert set(owner) == set(log.jobs)
    by_query = {}
    for job_id, i in owner.items():
        by_query.setdefault(executions[i]["query"], []).append(job_id)
    # the replay's micro-batches run on the stream thread, under the
    # stream's own job group, yet land on the query that drained them
    stream_jobs = [j.id for j in log.jobs.values() if not j.group.startswith("perfbench-")]
    assert stream_jobs and set(stream_jobs) <= set(by_query["stream_dedup_replay"])
    for e in executions:
        assert len(by_query[e["query"]]) == e["jobs"]


def test_layer_metrics_of_a_recorded_pass():
    log, executions, passes = _recorded()
    m = tracing.layer_metrics(executions, passes, log, [], [], 4, run.OPERATOR_MODULES)
    ends = _task_ends()
    sent = sum(float(a["Update"]) for e in ends for a in e["Task Info"]["Accumulables"]
               if a["Name"] == tracing.PY_OUT)
    assert m["session.tasks"] == len(ends)
    assert m["session.jobs"] == sum(e["jobs"] for e in executions) == 15
    assert m["session.task_run_ms"] == sum(e["Task Metrics"]["Executor Run Time"] for e in ends)
    assert m["functions.python_bytes_out"] == sent > 0
    assert 0 < m["session.core_util"] < 1
    assert 0 < m["session.driver_gap_s"] < passes[0]["end"] - passes[0]["start"]


def test_self_time_subtracts_children_and_outer_time_counts_nesting_once():
    tracer = tracing.Tracer()
    tracer.active = True

    def leaf():
        return 1

    wrapped_leaf = tracer._wrap(leaf, "flatbread_spark.operators.totals.leaf")

    def outer():
        return wrapped_leaf() + wrapped_leaf()

    wrapped_outer = tracer._wrap(outer, "flatbread_spark.operators.totals.outer")
    with tracer.span("entry.q"):
        assert wrapped_outer() == 2
    root, mid, a, b = tracer.spans
    assert (root.parent, mid.parent, a.parent, b.parent) == (None, root.id, mid.id, mid.id)
    selft = tracing.self_times(tracer.spans)
    assert abs(selft[mid.id] - ((mid.end - mid.start) - (a.end - a.start) - (b.end - b.start))) < 1e-9
    assert tracing._outer_time(tracer.spans, "flatbread_spark.operators.totals") == (
        mid.end - mid.start)


def test_install_wraps_library_functions_and_methods_and_uninstall_restores():
    from flatbread_spark.operators import totals
    from flatbread_spark.output.tablespec import TableSpecBuilder

    before_fn, before_m = totals.add_totals, TableSpecBuilder.build_spec
    tracer = tracing.Tracer()
    assert tracer.install() > 0
    try:
        assert totals.add_totals is not before_fn
        assert totals.add_totals.__wrapped__ is before_fn
        assert TableSpecBuilder.build_spec.__wrapped__ is before_m
    finally:
        tracer.uninstall()
    assert totals.add_totals is before_fn and TableSpecBuilder.build_spec is before_m


def test_emitted_metric_names_match_benchmark_json():
    bench = _benchmark()
    log, executions, passes = _recorded()
    layer = tracing.layer_metrics(executions, passes, log, [], [], 4, run.OPERATOR_MODULES)
    layer["trace.overhead_s"] = 0.0
    assert [m["name"] for m in bench["per_layer"]] == list(layer)
    assert all(m["unit"] == run.per_layer_unit(m["name"]) for m in bench["per_layer"])
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)

    timed = [{"index": 1, "cpu_s": 5.0}, {"index": 2, "cpu_s": 7.0}]
    exs = [{"pass": p, "cached_mb": c} for p, c in ((0, 5.0), (1, 0.5), (1, 0.7), (2, 0.1))]
    e2e = run.end_to_end(timed, exs, 30.0)
    assert e2e == {"pass_cpu_s": 6.0, "setup_s": 30.0, "cached_peak_mb": 0.7}
    line = json.loads(run.result_line(e2e, run.END_TO_END, 12, 1))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is False and line["attempted"] == 12
    assert line["metrics"]["pass_cpu_s"] == {"value": 6.0, "unit": "s"}
