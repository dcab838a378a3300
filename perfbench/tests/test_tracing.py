"""Event-log parsing, driver-gap union and self-time math, pinned on a tiny
checked-in event log."""

from __future__ import annotations

import types
from pathlib import Path

import pytest

from perfbench.tracing import (
    Span,
    Tracer,
    driver_gap,
    event_log_files,
    parse_event_log,
    self_times,
    union_length,
)

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_tiny.jsonl"


@pytest.fixture()
def log():
    with open(FIXTURE) as f:
        return parse_event_log(f)


def test_jobs_carry_group_and_span_in_seconds(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[0] == {"group": "t0:q1", "start": 1.0, "end": 1.5}
    assert log.jobs[3]["group"] is None
    assert log.job_intervals("t0:q1") == [(1.0, 1.5), (1.4, 2.0)]


def test_stages_and_tasks_follow_the_first_job_listing_the_stage(log):
    # stage 1 is listed again by job 2 (q2) but ran under job 0 (q1)
    assert log.stages["t0:q1"] == 3
    assert log.stages["t0:q2"] == 1
    q1, q2 = log.tasks["t0:q1"], log.tasks["t0:q2"]
    assert q1["tasks"] == 4
    assert q1["task_cpu_s"] == pytest.approx(0.7)
    assert q1["task_gc_s"] == pytest.approx(0.03)
    assert q1["shuffle_fetch_wait_s"] == pytest.approx(0.005)
    assert q1["shuffle_bytes"] == 150
    assert q1["scan_rows"] == 1000
    assert q2["tasks"] == 1
    assert q2["spill_bytes"] == 1024
    assert q2["shuffle_fetch_wait_s"] == pytest.approx(0.007)


def test_driver_gap_is_span_minus_union_of_its_jobs(log):
    # jobs cover [1.0, 2.0] as a union (they overlap on [1.4, 1.5])
    span = Span(0, "spark.exec", 0.9, 2.2, None, "timed", "t0:q1")
    assert driver_gap(span, log.job_intervals("t0:q1")) == pytest.approx(0.3)
    # a job sticking out of the span only counts inside it
    inner = Span(1, "spark.exec", 1.2, 1.8, None, "timed", "t0:q1")
    assert driver_gap(inner, log.job_intervals("t0:q1")) == pytest.approx(0.0)
    assert driver_gap(span, []) == pytest.approx(1.3)


@pytest.mark.parametrize(
    "intervals,expected",
    [
        ([], 0.0),
        ([(0, 1)], 1.0),
        ([(0, 1), (2, 3)], 2.0),
        ([(0, 2), (1, 3)], 3.0),
        ([(0, 5), (1, 2), (3, 4)], 5.0),
        ([(2, 3), (0, 1), (1, 2)], 3.0),
    ],
)
def test_union_length(intervals, expected):
    assert union_length(intervals) == pytest.approx(expected)


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        Span(0, "batch", 0.0, 10.0, None, "timed"),
        Span(1, "claim", 1.0, 3.0, 0, "timed"),
        Span(2, "gate", 2.0, 5.0, 0, "timed"),  # overlaps claim
        Span(3, "inner", 2.5, 3.5, 2, "timed"),  # grandchild: not subtracted from 0
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(6.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[3] == pytest.approx(1.0)


def test_wrap_records_nested_spans_and_restore_puts_the_original_back():
    mod = types.ModuleType("fake")
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    original = mod.inner
    tracer = Tracer(enabled=True)
    tracer.wrap(mod, "inner", "layer.inner")
    tracer.wrap(mod, "outer", "layer.outer")
    assert mod.outer(1) == 4
    inner, outer = tracer.spans
    assert (inner.name, outer.name) == ("layer.inner", "layer.outer")
    assert inner.parent == outer.id and outer.parent is None
    tracer.restore()
    assert mod.inner is original


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("x"):
        pass
    assert tracer.spans == []


def test_rolling_event_log_parts_read_in_numeric_order(tmp_path):
    app = "local-123"
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_{app}").write_text("")
    (d / f"appstatus_{app}").write_text("")
    names = [p.name for p in event_log_files(tmp_path, app)]
    assert names == [f"events_{n}_{app}" for n in (1, 2, 10)]
    single = tmp_path / "local-456"
    single.write_text("")
    assert event_log_files(tmp_path, "local-456") == [single]
