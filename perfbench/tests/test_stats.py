"""Spark-free tests of the benchmark's arithmetic and sampling."""

from __future__ import annotations

import statistics

import pytest

from perfbench import stats


def test_percentile_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert stats.percentile(vals, 0.5) == 50
    assert stats.percentile(vals, 0.9) == 90
    assert stats.percentile(vals, 1.0) == 100
    assert stats.percentile([7.0], 0.99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


@pytest.mark.parametrize(
    "n, level",
    [
        (1000, 0.99),  # 10 beyond p99
        (999, 0.95),  # 9 beyond p99
        (200, 0.95),
        (100, 0.90),
        (59, 0.80),  # 11 beyond p80, 9 beyond p90
        (48, 0.75),  # 12 beyond p75, 9 beyond p80
        (39, 0.70),  # 11 beyond p70, 9 beyond p75
        (24, 0.55),
        (20, 0.50),
        (19, None),  # not even the median has 10 beyond it
        (2, None),
    ],
)
def test_tail_level_keeps_ten_beyond(n, level):
    assert stats.tail_level(n) == level
    if level is not None:
        assert stats.beyond(n, level) >= stats.MIN_BEYOND
    higher = [p for p in stats.TAIL_LEVELS if level is None or p > level]
    assert all(stats.beyond(n, p) < stats.MIN_BEYOND for p in higher)


def test_summarize():
    vals = [float(i) for i in range(1, 61)]
    assert stats.summarize(vals) == {"p50": 30.5, "tail": 48.0, "tail_level": 0.80, "n": 60}
    assert stats.summarize([3.0, 1.0, 2.0]) == {"p50": 2.0, "tail": None, "tail_level": None, "n": 3}


def test_schedule_is_sized_by_seconds_not_the_clock():
    from perfbench.workloads import schedule

    assert schedule(20, 10.0, False) == [False] * 2
    assert schedule(20, 7.0, False) == [False] * 3
    assert schedule(1, 7.0, False) == [False] * 2  # never fewer than two
    assert schedule(60, 10.0, False) == [False] * 6
    # a traced run keeps every untraced unit and interleaves traced ones
    assert schedule(20, 7.0, True) == [False, True, False, False]
    assert schedule(60, 10.0, True) == [False, True] * 3 + [False] * 3


def _span(i, name, start, end, parent=None, jobs=(0, 0)):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "jobs0": jobs[0], "jobs1": jobs[1]}


def test_self_time_is_span_minus_children():
    spans = [
        _span(0, "migrate.other", 0.0, 10.0, jobs=(0, 30)),
        _span(1, "migrate.init", 0.5, 1.5, 0, jobs=(0, 2)),
        _span(2, "migrate.bookkeeping", 2.0, 9.0, 0, jobs=(5, 28)),
        _span(3, "migrate.stmt", 3.0, 5.0, 2, jobs=(8, 12)),
        _span(4, "migrate.stmt", 5.5, 6.0, 2, jobs=(12, 13)),
        _span(5, "migrate.compact", 8.0, 8.5, 2, jobs=(20, 21)),
    ]
    st = stats.self_totals(spans)
    assert st["migrate.other"] == pytest.approx(10.0 - 1.0 - 7.0)
    assert st["migrate.bookkeeping"] == pytest.approx(7.0 - 2.0 - 0.5 - 0.5)
    assert st["migrate.stmt"] == pytest.approx(2.5)
    assert st["migrate.init"] == pytest.approx(1.0)
    # self times partition the root span exactly
    assert sum(st.values()) == pytest.approx(10.0)
    jobs = stats.self_totals(spans, "jobs0", "jobs1")
    assert jobs == {
        "migrate.other": 30 - 2 - 23,
        "migrate.init": 2,
        "migrate.bookkeeping": 23 - 4 - 1 - 1,
        "migrate.stmt": 5,
        "migrate.compact": 1,
    }
    assert sum(jobs.values()) == 30


NAMES = [f"{fam}_{i:02d}" for fam, k in (("agg", 30), ("events", 20), ("tpch", 10), ("ml", 2)) for i in range(k)]


def test_stride_sample_is_stratified_sorted_and_covering():
    stride = 6
    seen = set()
    for offset in range(stride):
        s = stats.stride_sample(NAMES, offset, stride)
        assert s == sorted(s)
        assert len(s) in (len(NAMES) // stride, len(NAMES) // stride + 1)
        fams = [stats.family(n) for n in s]
        assert fams.count("agg") == 5 and fams.count("events") in (3, 4)
        assert fams.count("tpch") in (1, 2)
        seen.update(s)
        assert stats.stride_sample(NAMES, offset, stride) == s  # deterministic
        assert stats.stride_sample(NAMES, offset + stride, stride) == s  # offset mod stride
    # the offsets together cover every query exactly once
    assert seen == set(NAMES)
    assert sum(len(stats.stride_sample(NAMES, s, stride)) for s in range(stride)) == len(NAMES)


def test_stride_sample_ignores_input_order():
    assert stats.stride_sample(list(reversed(NAMES)), 3, 6) == stats.stride_sample(NAMES, 3, 6)


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.3, 10.4]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / med)


def test_metric_value_parses_spark_formats():
    from perfbench.trace import metric_value

    assert metric_value("100,000") == 100000
    assert metric_value("64.0 MiB") == 64 * 2**20
    assert metric_value("0.0 B") == 0
    assert metric_value(
        "total (min, med, max (stageId: taskId))\n1024.0 KiB (256.0 KiB, 256.0 KiB, 256.0 KiB (stage 0.0: task 1))"
    ) == 2**20
    assert metric_value(None) == 0
