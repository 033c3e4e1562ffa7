"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import measure, trace  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- event-log fold ----------------------------------------------------------


def test_fold_recorded_log():
    """A log recorded from two job groups: a pandas UDF over 1000 rows in
    2 tasks, and a broadcast join of 2000 rows against 100 keys then a
    group-by."""
    folded = trace.fold_event_log([os.path.join(DATA, "eventlog_tiny.jsonl")])
    assert set(folded) == {"g.udf", "g.join"}
    udf, join = folded["g.udf"], folded["g.join"]
    assert udf["task_s"] == pytest.approx((2211 + 2210) / 1e3)
    assert udf["python_s"] == pytest.approx((1890 + 1910) / 1e3)
    assert udf["skew"] == pytest.approx(2211 / 2210.5)
    assert udf["join_rows"] == 0
    # every one of the 2000 probe rows matches one of the 100 keys
    assert join["join_rows"] == 2000
    assert join["shuffle_write_bytes"] == 2 * 905
    assert join["cpu_s"] > 0 and join["spill_bytes"] == 0
    assert join.get("python_s", 0.0) == 0


def test_fold_ignores_ungrouped_jobs(tmp_path):
    log = tmp_path / "events"
    log.write_text(
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {}}\n'
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {}, "Task Metrics": '
        '{"Executor Run Time": 5, "Executor CPU Time": 1, "JVM GC Time": 0, '
        '"Disk Bytes Spilled": 0, "Input Metrics": {"Bytes Read": 1}, '
        '"Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}}\n'
    )
    assert trace.fold_event_log([str(log)]) == {}


def test_skew_weights_heavy_stages():
    # a 1-task stage carries no skew; the heavy stage dominates the light one
    assert trace._skew([[100]]) == 1.0
    s = trace._skew([[10, 10, 40], [1, 1, 1]])
    assert s == pytest.approx((60 * 4 + 3 * 1) / 63)


def test_event_log_files_rolling_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in trace.event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


# -- percentile and sample-count rule ----------------------------------------


def test_tail_has_ten_samples_beyond():
    values = [float(v) for v in range(1, 31)]  # 1..30
    value, pct, n = measure.tail(values)
    assert (value, n) == (20.0, 30)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_at_eleven_samples_is_the_minimum():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
    assert measure.tail(values) == (1.0, pytest.approx(100 / 11), 11)


def test_tail_below_eleven_samples_reports_max():
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        measure.tail([])


# -- self time ---------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    spans = [
        trace.Span("parent", 0.0, 10.0, None, 0),
        trace.Span("a", 1.0, 3.0, 0, 0),
        trace.Span("b", 2.0, 4.0, 0, 0),  # overlaps a: [1, 4] counted once
        trace.Span("c", 9.0, 12.0, 0, 0),  # runs past the parent: clipped to [9, 10]
        trace.Span("grandchild", 1.5, 2.5, 1, 0),
        trace.Span("other", 10.0, 11.0, None, 0),
    ]
    assert trace.self_times(spans) == pytest.approx([6.0, 1.0, 2.0, 3.0, 1.0, 1.0])


def test_tracer_nesting_and_disabled_passthrough():
    tr = trace.Tracer(enabled=False)
    assert tr.call("x", lambda v: v + 1, 1) == 2
    assert tr.spans == []
    tr.enabled = True
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.01)
    tr.end_iteration()
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert outer.iteration == inner.iteration == -1 and tr.iteration == 0
    selfs = tr.by_name()
    assert selfs["inner"][0] >= 0.01
    assert selfs["outer"][0] == pytest.approx(outer.duration - inner.duration)


# -- /proc sampler -----------------------------------------------------------


def _fake_proc(root, procs, stat_line="cpu  100 0 50 800 0 0 0 50 0 0\n"):
    """procs: pid -> (comm, ppid, utime, stime, cutime, cstime, rss_pages)."""
    (root / "stat").write_text(stat_line)
    (root / "self").mkdir()  # non-numeric entries are skipped
    for pid, (comm, ppid, ut, st, cut, cst, rss) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 5
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
        (d / "statm").write_text(f"1000 {rss} 0 0 0 0 0\n")


def test_proc_tree_cpu_and_rss(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, {
        1: ("python3", 0, tck, 0, 0, 0, 10),
        10: ("java) (odd name", 1, 2 * tck, tck, 0, 0, 100),  # comm with ') ('
        11: ("python3", 10, 0, 0, tck, tck, 5),  # holds reaped workers' time
        20: ("unrelated", 0, 50 * tck, 0, 0, 0, 999),
    })
    assert sorted(measure.tree_pids(1, str(tmp_path))) == [1, 10, 11]
    assert measure.tree_cpu_s(1, str(tmp_path)) == pytest.approx(6.0)
    assert measure.tree_rss_bytes(1, str(tmp_path)) == 115 * os.sysconf("SC_PAGE_SIZE")


def test_proc_sampler_on_this_process():
    pid = os.getpid()
    before = measure.tree_cpu_s(pid)
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert measure.tree_cpu_s(pid) - before >= 0.2
    with measure.RssPeak(pid, period_s=0.01) as peak:
        time.sleep(0.05)
    assert peak.peak >= measure.tree_rss_bytes(pid) // 2 > 0


def test_steal_share(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 0 50 800 0 0 0 50 0 0\n")
    a = measure.cpu_times(str(tmp_path))
    assert a == (1000, 50)
    (tmp_path / "stat").write_text("cpu  200 0 50 900 0 0 0 150 0 0\n")
    assert measure.steal_share(a, measure.cpu_times(str(tmp_path))) == pytest.approx(100 / 300)
