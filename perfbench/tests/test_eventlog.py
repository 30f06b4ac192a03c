import pathlib

import pytest

import eventlog

CANNED = pathlib.Path(__file__).with_name("canned_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read([CANNED])


def test_jobs_carry_their_span_and_execution_start(log):
    assert [(j.span, j.execution_start) for j in log.jobs] == [
        (5, 1000.5),
        (7, None),
        (None, None),
    ]


def test_stage_and_task_counts(log):
    assert [(s.span, s.tasks, s.failed_tasks) for s in log.stages] == [
        (5, 3, 0),
        (5, 2, 1),
        (7, 1, 0),
        (None, 1, 0),
    ]
    assert [s.scan_partitions for s in log.stages] == [[3], [], [], [1]]


def test_task_metrics_and_bytes(log):
    s0, s1, s2, _ = log.stages
    assert s0.run_s == pytest.approx(0.24)
    assert s0.cpu_s == pytest.approx(0.15)
    assert s0.deser_s == pytest.approx(0.03)
    # 100 ms on the executor minus run, deserialize and result serialization
    assert s0.sched_delay_s == pytest.approx(0.027)
    assert (s0.input_bytes, s0.shuffle_write_bytes, s0.shuffle_read_bytes) == (3000, 900, 0)
    assert (s1.shuffle_read_bytes, s1.spill_bytes) == (450, 64)
    assert s1.sched_delay_s == pytest.approx(0.008)
    assert s2.sched_delay_s == pytest.approx(0.007)


def test_python_metrics_only_from_python_nodes(log):
    s0 = log.stages[0]
    assert s0.python == pytest.approx(
        {"run_s": 6.0, "bytes_sent": 1200, "rows_received": 21, "init_s": 0.75}
    )
    assert all(not s.python for s in log.stages[1:])
