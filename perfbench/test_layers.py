"""Tests for the benchmark's own arithmetic (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import (  # noqa: E402
    JobInfo,
    Span,
    StageInfo,
    attribute,
    median,
    self_times,
    steal_share,
    write_amp,
)

# -- median ----------------------------------------------------------------


def test_median_even_and_odd():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


# -- span self time -------------------------------------------------------


def _span(i, parent, name, start, end):
    return Span(i, parent, "t", name, start, end)


def test_self_time_subtracts_direct_children():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "build", 1.0, 4.0),
        _span(2, 0, "exec", 5.0, 9.0),
        _span(3, 2, "collect", 6.0, 7.0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(3.0)
    assert st["build"] == pytest.approx(3.0)
    assert st["exec"] == pytest.approx(3.0)
    assert st["collect"] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_counted_once():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "a", 2.0, 6.0),
        _span(2, 0, "a", 4.0, 8.0),
        _span(3, 0, "b", 9.0, 12.0),  # clipped to the parent's end
    ]
    assert self_times(spans)["op"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_sums_spans_of_one_name():
    spans = [_span(0, None, "x", 0.0, 1.0), _span(1, None, "x", 2.0, 4.5)]
    assert self_times(spans)["x"] == pytest.approx(3.5)


# -- job attribution by job-id window ------------------------------------


def _stage(status="COMPLETE", tasks=4, run_ms=1000, sr=10, sw=20, inp=30, out=40):
    return StageInfo(status, tasks, run_ms, sr, sw, inp, out)


def test_window_counts_untagged_jobs_and_dedupes_shared_stages():
    jobs = [
        JobInfo(7, "perfbench:q", [1, 2]),
        JobInfo(8, None, [2, 3]),  # driver-thread job: no group
        JobInfo(9, "other", [4]),
    ]
    stages = {1: _stage(), 2: _stage(status="SKIPPED"), 3: _stage(tasks=1), 4: _stage()}
    c = attribute(jobs, stages, "perfbench:q")
    assert c["jobs"] == 3
    assert c["untagged_jobs"] == 2
    assert c["stages"] == 3
    assert c["skipped_stages"] == 1
    assert c["tasks"] == 9
    assert c["executor_run_s"] == pytest.approx(3.0)
    assert c["shuffle_read_bytes"] == 30
    assert c["shuffle_write_bytes"] == 60
    assert c["input_bytes"] == 90
    assert c["output_bytes"] == 120


def test_empty_window():
    c = attribute([], {}, "g")
    assert c["jobs"] == 0 and c["stages"] == 0 and c["executor_run_s"] == 0.0


# -- write amplification --------------------------------------------------


def test_write_amp():
    assert write_amp(300.0, 100.0) == pytest.approx(3.0)
    assert write_amp(100.0, 100.0) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        write_amp(10.0, 0.0)


# -- host guard -----------------------------------------------------------


def test_steal_share():
    before = [100, 0, 10, 500, 0, 0, 0, 20]
    after = [160, 0, 20, 520, 0, 0, 0, 30]  # 100 jiffies, 10 stolen
    assert steal_share(before, after) == pytest.approx(0.1)
    assert steal_share(before, before) == 0.0
