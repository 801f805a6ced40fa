"""Tests of the benchmark's own arithmetic and event-log parsing.

Run with ``python3 -m pytest perfbench/tests``; no Spark session is
started."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import parse_file, parse_lines  # noqa: E402
from stats import (  # noqa: E402
    driver_time,
    fail_frac,
    pass_counts,
    percentile,
    supports,
    union_length,
)

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.jsonl")


# ---- percentile rule: no percentile without ten samples beyond it -------


@pytest.mark.parametrize("n,q,ok", [
    (19, 0.5, False), (20, 0.5, True), (21, 0.5, True),
    (99, 0.9, False), (100, 0.9, True), (0, 0.5, False), (1000, 0.99, True),
])
def test_supports_needs_ten_beyond(n, q, ok):
    assert supports(n, q) is ok


def test_percentile_withheld_below_rule():
    assert percentile([1.0] * 19, 0.5) is None
    assert percentile([float(i) for i in range(99)], 0.9) is None


def test_percentile_values():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert percentile(xs, 0.5) == pytest.approx(50.5)
    assert percentile(xs, 0.9) == pytest.approx(90.1)
    # order of the input does not matter
    assert percentile(list(reversed(xs)), 0.5) == pytest.approx(50.5)


# ---- driver_s = wall minus the union of job intervals -------------------


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3)]) == pytest.approx(3)
    assert union_length([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10)
    assert union_length([(0, 1), (2, 3)]) == pytest.approx(2)
    assert union_length([]) == 0.0


def test_union_clips_to_span():
    assert union_length([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2)
    assert union_length([(11, 12)], 0, 10) == 0.0


def test_driver_time():
    # span 0..10; jobs 1..4 and 3..6 overlap (union 5 s) and one job
    # runs past the span end (counted only up to 10)
    assert driver_time(0, 10, [(1, 4), (3, 6), (9, 12)]) == pytest.approx(4)
    assert driver_time(0, 10, []) == pytest.approx(10)
    assert driver_time(0, 10, [(0, 10), (2, 8)]) == pytest.approx(0)


# ---- fail_frac ---------------------------------------------------------------


def test_pass_counts_each_op_once():
    ran = ["a", "b", "c", "d"]
    verdicts = [("a", "oracle", False, "x"), ("a", "hash", False, "y"),
                ("b", "oracle", True, ""), ("c", "oracle", False, "z")]
    assert pass_counts(ran, {"a", "d"}, verdicts) == (4, 3)
    assert pass_counts(ran, set(), [("b", "oracle", True, "")]) == (4, 0)


def test_pass_counts_early_op_raised():
    # the first op raised, so the pass stopped; the checks still name
    # the ops it never reached, and the shares stay within [0, 1]
    verdicts = [("make_graph", "graph.present", False, "no graph"),
                ("get_markers", "markers.nonempty", False, "no table")]
    attempted, failed = pass_counts(["auto_filter_cells"], {"auto_filter_cells"}, verdicts)
    assert (attempted, failed) == (3, 3)
    assert fail_frac(attempted, failed) == 1.0


def test_fail_frac():
    assert fail_frac(40, 0) == 0.0
    assert fail_frac(40, 10) == pytest.approx(0.25)
    with pytest.raises(ValueError):
        fail_frac(0, 0)
    with pytest.raises(ValueError):
        fail_frac(3, 4)


# ---- event-log parsing on a small recorded log ---------------------------
# The fixture is a trimmed Spark 4.1 event log of three job groups:
# pb-0 ran range(100).count(), pb-1 a shuffled group-by, pb-check a
# collect; jobs outside any group are not attributed.


def test_eventlog_attributes_jobs_to_groups():
    log = parse_file(LOG)
    assert set(log.ops) == {"pb-0", "pb-1", "pb-check"}
    assert [log.ops[g].jobs for g in ("pb-0", "pb-1", "pb-check")] == [2, 2, 1]
    for g in log.ops.values():
        assert len(g.intervals) == g.jobs
        assert all(b >= a for a, b in g.intervals)
    assert log.failed_tasks == 0


def test_eventlog_task_and_shuffle_totals():
    log = parse_file(LOG)
    assert log.ops["pb-0"].task_s == pytest.approx(0.258)
    assert log.ops["pb-1"].task_s == pytest.approx(0.358)
    assert log.ops["pb-1"].shuffle_bytes == 364
    assert log.ops["pb-check"].shuffle_bytes == 0
    assert log.get("absent").jobs == 0


def test_eventlog_cut_short_keeps_open_job():
    with open(LOG) as fh:
        lines = fh.readlines()
    # drop the last JobEnd: the job still counts, with no length
    last_end = max(i for i, line in enumerate(lines) if '"SparkListenerJobEnd"' in line)
    log = parse_lines(lines[:last_end])
    g = log.ops["pb-check"]
    assert g.jobs == 1 and g.intervals[0][0] == g.intervals[0][1]


def test_eventlog_counts_failed_tasks():
    line = ('{"Event":"SparkListenerTaskEnd","Stage ID":99,"Task Info":'
            '{"Failed":true,"Killed":false},"Task Metrics":{}}')
    assert parse_lines([line]).failed_tasks == 1
