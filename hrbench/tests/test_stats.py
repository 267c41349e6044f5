"""Percentile / sample-count rule, self-time arithmetic and the event-log
parser (pure Python, no Spark)."""

from __future__ import annotations

import os
import statistics

import pytest

from hrbench.measure import quantile, stratified, summarize, tail_percentile
from hrbench.trace import Span, Stage, owner, parse_event_log, self_times, task_skew

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.mark.parametrize("n, want", [
    (1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
    (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = tail_percentile(n)
    assert p == want
    if p is not None:
        assert round(n * (100 - p) / 100, 6) >= 10


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert quantile(xs, 50) == 3.0
    assert quantile(xs, 0) == 1.0 and quantile(xs, 100) == 5.0
    assert quantile(xs, 75) == 4.0
    assert quantile([1.0, 2.0], 25) == pytest.approx(1.25)
    with pytest.raises(ValueError):
        quantile([], 50)


def test_summarize_reports_the_percentile_used_and_n():
    lat = [float(i) for i in range(1, 41)]
    s = summarize(lat)
    assert s == {"p50": statistics.median(lat), "tail": quantile(lat, 75.0),
                 "tail_pct": 75.0, "n": 40}
    short = summarize([3.0, 1.0, 2.0])
    assert short == {"p50": 2.0, "tail": None, "tail_pct": None, "n": 3}


def test_stratified_weighs_each_kind_once():
    ops = [("a", 1.0, 2.0, 10), ("a", 3.0, 4.0, 10), ("b", 10.0, 1.0, 1),
           ("c", 0.5, 1.0, 1), ("c", 0.5, 1.0, 1), ("c", 0.5, 1.0, 1)]
    st = stratified(ops)
    # per-kind medians: a (2.0 s, 3.0 cpu, 10), b (10.0, 1.0, 1), c (0.5, 1.0, 1)
    assert st["p50"] == 2.0
    assert st["items_per_s"] == pytest.approx(12 / 12.5)
    assert st["cpu_s"] == pytest.approx(5.0 / 3)
    one = stratified([("t", 2.0, 6.0, 100), ("t", 4.0, 8.0, 100), ("t", 3.0, 7.0, 100)])
    assert one == {"p50": 3.0, "items_per_s": pytest.approx(100 / 3.0), "cpu_s": 7.0}


def _span(name, start, end, parent=None, op=0):
    return Span(name, start, end, parent, op)


def test_self_time_subtracts_children_once():
    spans = [
        _span("op:x", 0.0, 10.0),
        _span("a:one", 1.0, 4.0, parent=0),
        _span("a:two", 3.0, 6.0, parent=0),      # overlaps a:one: union 1..6
        _span("b:deep", 1.5, 2.5, parent=1),
        _span("c:late", 9.0, 12.0, parent=0),    # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_self_times_of_a_tree_sum_to_the_root():
    spans = [_span("op:x", 0.0, 8.0), _span("a:1", 0.5, 3.0, 0),
             _span("b:1", 1.0, 2.0, 1), _span("a:2", 4.0, 7.5, 0)]
    assert sum(self_times(spans)) == pytest.approx(8.0)


def test_owner_picks_the_innermost_open_span():
    spans = [_span("op:x", 0.0, 10.0), _span("a:1", 2.0, 5.0, 0),
             _span("b:1", 3.0, 4.0, 1)]
    assert owner(spans, 1.0) == 0
    assert owner(spans, 2.5) == 1
    assert owner(spans, 3.5) == 2
    assert owner(spans, 11.0) is None


def test_task_skew_is_median_of_per_stage_max_over_median():
    stages = [Stage(0, 0.0, [10, 10, 40]), Stage(1, 0.0, [5, 5]), Stage(2, 0.0, [7])]
    assert task_skew(stages) == pytest.approx((4.0 + 1.0) / 2)
    assert task_skew([]) == 1.0


def test_event_log_parser_on_a_recorded_log():
    """The fixture was recorded by ``record_eventlog.py``: a parquet
    write of 1000 rows into 4 files, then a filtered read-back with a
    shuffle."""
    log = parse_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    assert len(log.jobs) >= 2
    assert log.jobs == sorted(log.jobs)
    assert all(st.submitted > 1.6e9 for st in log.stages)
    tasks = sum(len(st.task_ms) for st in log.stages)
    assert tasks >= 4
    assert sum(st.output_bytes for st in log.stages) > 0
    # range() counts its 1000 generated rows as input, then the read-back
    assert sum(st.input_records for st in log.stages) == 2000
    assert sum(st.shuffle_bytes for st in log.stages) > 0
    written = sum(v.get("number of written files", 0) for _, v in log.sql)
    read = sum(v.get("number of files read", 0) for _, v in log.sql)
    assert written == 4
    assert read == 4
