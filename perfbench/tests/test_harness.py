"""Unit tests of the benchmark's measurement plumbing (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import (  # noqa: E402
    Tracer,
    attribute,
    metric_seconds,
    parse_metric_value,
    steal_share,
    unstolen_s,
)

HEADER = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("value, want", [
    # aggregated timing metrics: the leading total, not the min/med/max
    (HEADER + "2.0 s (1.0 s, 1.2 s, 1.4 s (stage 3.0: task 5))", 2.0),
    ("2.0 s (1.0 s, 1.2 s, 1.4 s)", 2.0),
    (HEADER + "13.1 s (3.2 s, 3.3 s, 3.3 s (stage 0.0: task 0))", 13.1),
    (HEADER + "15 ms (1 ms, 2 ms, 10 ms (stage 0.0: task 1))", 0.015),
    (HEADER + "1,234 ms (1 ms, 2 ms, 10 ms (stage 0.0: task 1))", 1.234),
    ("345 ms", 0.345),
    ("1.5 m", 90.0),
    ("2 h", 7200.0),
])
def test_metric_seconds_takes_leading_total(value, want):
    assert metric_seconds(value) == pytest.approx(want)


@pytest.mark.parametrize("value", [
    "", HEADER, "100,000",
    HEADER + "782.9 KiB (195.7 KiB, 195.7 KiB, 195.7 KiB (stage 0.0: task 2))",
])
def test_metric_seconds_rejects_non_times(value):
    assert metric_seconds(value) is None


def test_parse_metric_value_counts_and_sizes():
    assert parse_metric_value("100,000") == (100000.0, "")
    assert parse_metric_value(HEADER + "930.0 B (230.0 B, 231.0 B, 238.0 B)") == (
        930.0, "B")
    assert parse_metric_value("not a number") is None


def test_attribute_by_completion_time():
    ops = [{"id": 0, "start": 10.0, "end": 20.0},
           {"id": 1, "start": 20.5, "end": 30.0}]
    items = [{"end": 15.0}, {"end": 25.0}, {"end": 40.0}, {"end": None}]
    got = attribute(ops, items)
    assert got[0] == [items[0]] and got[1] == [items[1]]


class _Lib:
    @staticmethod
    def work(x):
        return x * 2

    @staticmethod
    def boom():
        raise ValueError("no")


def test_tracer_wraps_and_restores():
    tr = Tracer(True)
    orig = _Lib.work
    tr.wrap(_Lib, "work", "lib.work", lambda a, kw, out: {"out": out})
    with tr.span("op.outer") as outer:
        assert _Lib.work(3) == 6
    tr.restore()
    assert _Lib.work is orig
    (span,) = tr.named("lib.work")
    assert span["parent"] == outer["id"] and span["out"] == 6


def test_tracer_marks_failed_spans_and_reraises():
    tr = Tracer(True)
    tr.wrap(_Lib, "boom", "lib.boom")
    try:
        with pytest.raises(ValueError):
            _Lib.boom()
    finally:
        tr.restore()
    assert tr.named("lib.boom")[0]["ok"] is False


def test_tracer_pool_threads_attach_to_operation_span():
    tr = Tracer(True)
    with tr.span("op.x") as op:
        tr.op_span = op["id"]

        def child():
            with tr.span("child"):
                pass

        t = threading.Thread(target=child)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert [s["parent"] for s in tr.spans if s["name"] == "child"] == [op["id"]]


def test_disabled_tracer_wraps_nothing():
    tr = Tracer(False)
    orig = _Lib.work
    tr.wrap(_Lib, "work", "lib.work")
    assert _Lib.work is orig and tr.spans == []


def test_unstolen_time_removes_the_stolen_share():
    # 60 busy ticks and 40 stolen ones: the vCPUs ran 60% of the time
    # they were runnable
    before, after = (100, 10), (160, 50)
    assert steal_share(before, after) == pytest.approx(0.4)
    assert unstolen_s(10.0, before, after) == pytest.approx(6.0)
    # nothing stolen, or no ticks at all (no /proc/stat): wall time as is
    assert unstolen_s(10.0, (100, 10), (160, 10)) == 10.0
    assert unstolen_s(10.0, (0, 0), (0, 0)) == 10.0
