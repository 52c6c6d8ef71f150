"""Unit tests of the benchmark's statistics and event-log attribution.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from perfbench.stats import median, percentile, tail_percentile
from perfbench.trace import Span, Tracer, attribute, read_stages

FIXTURE = os.path.join(os.path.dirname(__file__), "data")


def secs(x: float):
    """Span and stage times are epoch seconds in doubles: ~0.2 us resolution."""
    return pytest.approx(x, abs=1e-6)


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_interpolates_like_numpy_linear():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert median(xs) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_read_stages_from_recorded_event_log():
    stages = read_stages(FIXTURE)
    assert [s.stage_id for s in stages] == [0, 1, 2, 3]
    s0, _, s2, s3 = stages
    assert s0.submit == pytest.approx(1792206367.852) and s0.complete == pytest.approx(1792206368.903)
    assert s0.cpu_s == pytest.approx(0.780794825)
    assert s0.records_read == 20000 and s0.output_mb == pytest.approx(0.081055)
    assert s2.shuffle_write_mb == pytest.approx(343e-6) and s2.input_mb == pytest.approx(2014e-6)
    assert s3.shuffle_read_mb == pytest.approx(343e-6) and s3.tasks == 2


def test_span_self_time_and_driver_time():
    stages = read_stages(FIXTURE)
    spans = [
        Span("write", 1792206367.800, None, 1792206369.600),  # holds stages 0 and 1
        Span("query", 1792206370.500, None, 1792206371.100),  # holds stages 2 and 3
        Span("query.inner", 1792206370.900, 1, 1792206371.100),  # holds stage 3
    ]
    write, query, inner = attribute(spans, stages)

    assert write["stages"] == 2 and write["tasks"] == 3
    assert write["cpu_s"] == pytest.approx(0.780794825 + 0.006738508)
    # stage windows 1.051 s + 0.117 s inside a 1.8 s span
    assert write["driver_s"] == secs(1.8 - 1.051 - 0.117)
    assert write["self_s"] == secs(1.8)

    assert query["stages"] == 2
    assert query["driver_s"] == secs(0.6 - 0.352 - 0.136)
    assert query["self_s"] == secs(0.6 - 0.2)  # minus the child span
    assert inner["stages"] == 1
    assert inner["shuffle_read_mb"] == pytest.approx(343e-6)
    assert inner["driver_s"] == secs(0.2 - 0.136)


def test_overlapping_stage_windows_count_once():
    stages = read_stages(FIXTURE)
    spans = [Span("all", 1792206367.0, None, 1792206372.0)]
    (rec,) = attribute(spans, stages)
    busy = (1.051 + 0.117 + 0.352 + 0.136)
    assert rec["driver_s"] == secs(5.0 - busy)
    dup = stages + [stages[0]]  # a second stage over the same window adds no busy time
    (rec2,) = attribute(spans, dup)
    assert rec2["driver_s"] == secs(rec["driver_s"])


def test_disabled_and_suspended_tracer_record_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.suspended():
            with tr.span("warm-up"):
                pass
        with tr.span("inner"):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0


def test_warm_up_runs_until_the_cpu_per_operation_stops_falling():
    from perfbench.workloads import _warm_up

    falling = [9.0, 8.0, 7.0, 6.0, 5.9, 6.1, 5.8, 4.0, 4.1]
    assert _warm_up(lambda i: falling[i], 2, float("inf")) == falling[:7]
    assert _warm_up(lambda i: falling[i], 2, 0.0) == falling[:2]  # past the deadline: minimum only
