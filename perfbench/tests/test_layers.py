import pytest

from eventlog import EventLog, Job, Stage
from layers import covered, layer_metrics, self_times, stream_totals
from tracing import Span, Tracer


def _span(sid, name, layer, start, end, parent, query=0, **info):
    return Span(sid, name, layer, start, parent, query, end=end, info=info)


SPANS = [
    _span(0, "query", "query", 0.0, 10.0, None),
    _span(1, "plans.registry.build", "plans.registry", 0.0, 6.0, 0),
    _span(2, "session.tune_session", "session", 0.0, 0.5, 1),
    _span(3, "operators.text.foo", "operators.text", 1.0, 5.0, 1),
    _span(4, "sources.tables.load_table", "sources.tables", 1.5, 2.5, 3),
    _span(5, "operators.text.bar", "operators.text", 2.0, 4.0, 3),
    _span(6, "spark.exec", "spark.exec", 6.0, 10.0, 0, analysis_s=0.2),
    _span(7, "session.get_spark", "session", -5.0, -3.0, None, query=None),
]
LOG = EventLog(
    jobs=[
        Job(4, None),  # footer-inference job of load_table
        Job(5, None),  # eager job of the nested operator call
        Job(6, 6.5),
        Job(6, 6.5),
        Job(None, None),
    ],
    stages=[
        Stage(4, tasks=1, scan_partitions=[1]),
        Stage(6, tasks=4, run_s=8.0, shuffle_write_bytes=10, scan_partitions=[4]),
        Stage(5, tasks=2, python={"run_s": 1.5}),
    ],
)


def test_covered_merges_overlaps():
    assert covered([(1.5, 2.5), (2.0, 4.0), (5.0, 6.0)]) == pytest.approx(3.5)
    assert covered([]) == 0.0


def test_self_time_of_nested_spans():
    st = self_times(SPANS)
    assert st[0] == pytest.approx(0.0)
    assert st[1] == pytest.approx(1.5)  # 6 s minus tune_session and foo
    assert st[3] == pytest.approx(1.5)  # 4 s minus the union of its children
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(2.0)


def test_layer_metrics_attribute_jobs_to_innermost_span():
    m = layer_metrics(
        SPANS,
        LOG,
        {"q1": 5, "q2": None},
        [
            ("q1", {"batch": 0, "input_rows": 10, "duration_ms": {"triggerExecution": 500},
                    "state": [{"rows_total": 4, "memory_bytes": 100, "rows_removed": 1}]}),
            ("q1", {"batch": 1, "input_rows": 5, "duration_ms": {"triggerExecution": 250, "addBatch": 200},
                    "state": [{"rows_total": 3, "memory_bytes": 300, "rows_removed": 2}]}),
            ("q2", {"batch": 0, "input_rows": 99, "duration_ms": {}, "state": []}),
        ],
        cores=4,
        overhead_frac=0.05,
    )
    assert m["session.get_spark_s"] == pytest.approx(2.0)
    assert m["session.tune_session.calls"] == 1
    assert m["session.tune_session.self_s"] == pytest.approx(0.5)
    assert m["plans.registry.build_s"] == pytest.approx(6.0)
    assert m["plans.registry.build_self_s"] == pytest.approx(1.5)
    assert m["plans.registry.build_jobs"] == 2
    assert m["operators.text.calls"] == 2
    assert m["operators.text.self_s"] == pytest.approx(3.5)
    assert m["operators.text.jobs"] == 1
    assert m["operators.ml.calls"] == 0
    assert m["sources.tables.load_table.jobs"] == 1
    assert m["sources.tables.load_table.self_s"] == pytest.approx(1.0)
    assert m["sources.tables.scan_partitions_min"] == 1
    assert m["spark.catalyst.analysis_s"] == pytest.approx(0.2)
    assert m["spark.catalyst.plan_s"] == pytest.approx(0.5)
    assert m["spark.exec.s"] == pytest.approx(3.5)
    assert (m["spark.exec.jobs"], m["spark.exec.stages"], m["spark.exec.tasks"]) == (2, 1, 4)
    assert m["spark.exec.busy_ratio"] == pytest.approx(8.0 / (3.5 * 4))
    assert m["spark.python.run_s"] == pytest.approx(1.5)
    assert m["streaming.batches"] == 2
    assert m["streaming.input_rows"] == 15
    assert m["streaming.trigger_s"] == pytest.approx(0.75)
    assert m["streaming.state_rows_total"] == 4
    assert m["streaming.state_memory_bytes"] == 300
    assert m["streaming.state_rows_removed"] == 3
    assert m["trace.overhead_frac"] == 0.05


def test_stream_totals_ignore_other_queries():
    totals = stream_totals([("x", {})], {"q"})
    assert set(totals) == {
        "batches", "trigger_s", "add_batch_s", "wal_commit_s", "input_rows",
        "state_rows_removed", "state_rows_total", "state_memory_bytes",
    }
    assert not any(totals.values())


def test_every_declared_per_layer_metric_is_computed():
    import json
    import pathlib

    bench = json.loads((pathlib.Path(__file__).parents[2] / "BENCHMARK.json").read_text())
    m = layer_metrics([], LOG, {}, [], cores=4, overhead_frac=0.0)
    assert {x["name"] for x in bench["per_layer"]} == set(m)


def test_tracer_sets_and_restores_span_property():
    seen = []
    clock = iter(range(100)).__next__
    tracer = Tracer(clock=clock, set_property=seen.append)
    tracer.query = 3
    with tracer.span("a", "la") as a:
        with tracer.span("b", "lb") as b:
            pass
    assert seen == ["0", "1", "0", None]
    assert (b.parent, b.query, a.parent) == (a.id, 3, None)
    assert self_times(tracer.spans) == {a.id: 2, b.id: 1}
