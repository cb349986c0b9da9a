"""Tests for the benchmark's own logic: event-log attribution, span
self-time arithmetic and the tail-percentile rule.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


# ---- event log -------------------------------------------------------------

WINDOWS = [
    eventlog.Window("a", "build", 1000, 2000),
    eventlog.Window("a", "collect", 2000, 4000),
    eventlog.Window("a", "release", 4000, 4100),
    eventlog.Window("b", "build", 4500, 5000),
    eventlog.Window("b", "collect", 5000, 6000),
]


@pytest.fixture(scope="module")
def parsed():
    return eventlog.read(os.path.join(HERE, "eventlog_small.jsonl"), WINDOWS)


def test_eventlog_ignores_work_outside_windows(parsed):
    assert set(parsed) == {"a", "b"}


def test_eventlog_counts(parsed):
    a = parsed["a"]
    assert (a["sql_executions"], a["jobs"], a["build_jobs"]) == (1, 2, 1)
    assert (a["stages"], a["tasks"], a["aqe_replans"]) == (3, 4, 2)


def test_eventlog_stage_time_is_union_of_intervals(parsed):
    # stages [1.1, 1.4], [2.1, 2.6] and [2.5, 3.0] overlap in 0.1 s
    assert parsed["a"]["stage_s"] == pytest.approx(1.2)
    # stages 2 and 3 belong to SQL execution 7, whose plan has MapInArrow
    assert parsed["a"]["python_stage_s"] == pytest.approx(0.9)


def test_eventlog_task_metrics(parsed):
    a = parsed["a"]
    assert a["run_s"] == pytest.approx(0.4)
    assert a["cpu_s"] == pytest.approx(0.2)
    assert a["gc_s"] == pytest.approx(0.04)
    assert a["deser_s"] == pytest.approx(0.02)
    assert a["shuffle_read_mb"] == pytest.approx(6.0)
    assert a["shuffle_write_mb"] == pytest.approx(8.0)
    assert a["input_mb"] == pytest.approx(12.0)
    assert a["spill_mb"] == pytest.approx(4.0)


def test_eventlog_attributes_streaming_batches_by_time(parsed):
    # The micro-batch job carries Spark's own description, not ours.
    b = parsed["b"]
    assert (b["sql_executions"], b["jobs"], b["build_jobs"], b["stages"]) == (1, 1, 0, 1)
    assert b["stage_s"] == pytest.approx(0.5)
    assert b["python_stage_s"] == 0


# ---- spans -----------------------------------------------------------------


def test_covered_merges_and_clips():
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-2, 1), (9, 12)], 0, 10) == 2
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 10), (2, 3)], 0, 20) == 9  # nested interval


def test_self_time_subtracts_union_of_children():
    ss = [
        spans.Span(0, "x.f", "x", 0.0, 10.0),
        spans.Span(1, "y.g", "y", 1.0, 3.0, parent=0),
        spans.Span(2, "y.h", "y", 2.0, 5.0, parent=0),  # overlaps span 1
        spans.Span(3, "z.k", "z", 2.5, 3.5, parent=2),
    ]
    st = spans.self_times(ss)
    assert st == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}
    roll = spans.rollup(ss)
    assert roll["y"]["calls"] == 2
    assert roll["y"]["s"] == 5.0
    assert roll["y"]["self_s"] == 4.0
    assert roll["y.h"]["self_s"] == 2.0


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def _fake_package():
    """fakepkg.util defines f (calls g through its module globals) and g;
    fakepkg.user imported f by name before instrumentation."""
    util = types.ModuleType("fakepkg.util")
    exec(
        "def g(df):\n    return df\n"
        "def f(df):\n    return g(df) + 1\n"
        "def _private(df):\n    return df\n",
        util.__dict__,
    )
    user = types.ModuleType("fakepkg.user")
    user.f = util.f
    return util, user


def test_instrument_wraps_public_functions_and_rebinds_references(monkeypatch):
    util, user = _fake_package()
    monkeypatch.setitem(sys.modules, "fakepkg.util", util)
    monkeypatch.setitem(sys.modules, "fakepkg.user", user)
    tr = spans.Tracer(clock=_Clock())
    assert tr.instrument({"util": util}, "fakepkg") == 2
    assert user.f is util.f and hasattr(user.f, "__perfbench_original__")
    assert util._private.__name__ == "_private" and not hasattr(util._private, "__perfbench_original__")

    tr.query = "q1"
    assert user.f(1) == 2
    f_span, g_span = tr.spans
    assert (f_span.name, g_span.name) == ("util.f", "util.g")
    assert g_span.parent == f_span.id and f_span.parent is None
    assert {f_span.query, g_span.query} == {"q1"}
    assert f_span.attrs == {"changed": True, "returned": 2}
    assert g_span.attrs == {"changed": False, "returned": 1}
    # clock ticks: f opens 1, g opens 2, g closes 3, f closes 4
    assert spans.self_times(tr.spans) == {0: 2.0, 1: 1.0}

    tr.enabled = False
    assert user.f(1) == 2
    assert len(tr.spans) == 2


# ---- percentile rule -------------------------------------------------------


def test_p75_needs_ten_samples_above_it():
    assert run.percentile_with_tail([float(i) for i in range(1, 41)], 0.75) == 30.0
    assert run.percentile_with_tail([float(i) for i in range(1, 40)], 0.75) is None
    assert run.percentile_with_tail([], 0.75) is None


def test_p75_counts_samples_strictly_by_rank():
    samples = [1.0] * 30 + [2.0] * 10
    assert run.percentile_with_tail(samples, 0.75) == 1.0
    assert run.percentile_with_tail(samples, 0.75, min_above=11) is None


def test_warm_passes_depend_only_on_seconds():
    wl = run.Workload(("q",), 5.5, 1)
    assert [wl.warm_passes(s) for s in (1, 5.5, 14, 16.5)] == [1, 1, 2, 3]
