"""Unit tests for the benchmark's derivations: percentiles, spreads,
span self time, result comparison, and the progress and event-log
layer sums.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import derive  # noqa: E402
import probes  # noqa: E402


# -- nearest-rank percentile ---------------------------------------------

def test_nearest_rank_matches_definition():
    vals = [15, 20, 35, 40, 50]
    assert derive.nearest_rank(vals, 0.05) == 15
    assert derive.nearest_rank(vals, 0.30) == 20
    assert derive.nearest_rank(vals, 0.40) == 20
    assert derive.nearest_rank(vals, 0.50) == 35
    assert derive.nearest_rank(vals, 1.00) == 50
    assert derive.nearest_rank(list(range(1, 101)), 0.9) == 90
    assert derive.nearest_rank([3.0, 1.0, 2.0], 0.5) == 2.0  # unsorted in


def test_nearest_rank_rejects_bad_input():
    with pytest.raises(ValueError):
        derive.nearest_rank([], 0.5)
    with pytest.raises(ValueError):
        derive.nearest_rank([1.0], 0.0)


# -- self time ------------------------------------------------------------

def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        {"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
        {"id": 2, "parent": 0, "t0": 3.0, "t1": 6.0},   # overlaps span 1
        {"id": 3, "parent": 0, "t0": 8.0, "t1": 12.0},  # runs past parent
        {"id": 4, "parent": 2, "t0": 3.5, "t1": 4.5},
    ]
    st = derive.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))  # [1,6] + [8,10]
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_nested_children_not_double_counted():
    spans = [
        {"id": 0, "parent": None, "t0": 0.0, "t1": 4.0},
        {"id": 1, "parent": 0, "t0": 1.0, "t1": 3.0},
        {"id": 2, "parent": 0, "t0": 1.5, "t1": 2.5},  # inside span 1
    ]
    assert derive.self_times(spans)[0] == pytest.approx(2.0)


# -- result comparison and spread -----------------------------------------

def test_same_result_is_order_and_type_insensitive():
    a = (["b", "a"], [(1.0, "x"), (2, None)])
    b = (["a", "b"], [(None, 2), ("x", 1)])
    assert derive.same_result(*a, *b) == ""
    assert "row count" in derive.same_result(*a, ["a", "b"], [("x", 1)])
    assert "columns" in derive.same_result(*a, ["a", "c"], [])
    assert derive.same_result(["v"], [(0.1 + 0.2,)], ["v"], [(0.3,)]) == ""
    assert derive.same_result(["v"], [(1,)], ["v"], [(2,)]) != ""
    assert derive.same_result(["v"], [(float("inf"),)],
                              ["v"], [(float("inf"),)]) == ""


def test_quartile_spread_matches_statistics_module():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert derive.quartile_spread(vals) == pytest.approx((q3 - q1) / med)


# -- progress and event-log layers ------------------------------------------

def _progress(ts, total_ms, add_ms, rows_total, mem):
    return {"timestamp": ts,
            "durationMs": {"triggerExecution": total_ms, "addBatch": add_ms,
                           "latestOffset": 1, "getBatch": 2,
                           "walCommit": 3, "commitOffsets": 4,
                           "queryPlanning": 5},
            "stateOperators": [{"numRowsTotal": rows_total,
                                "numRowsUpdated": 2, "commitTimeMs": 6,
                                "memoryUsedBytes": mem}]}


def test_progress_layers_per_pass_totals_and_peaks():
    events = [_progress("t", 100, 60, 10, 1e6),
              _progress("t", 300, 200, 30, 3e6)]
    got = probes.progress_layers(events, n_passes=2)
    assert got["pipeline.batches"] == 1
    assert got["pipeline.batch_ms_p50"] == 200
    assert got["pipeline.add_batch_ms"] == 130
    assert got["pipeline.offsets_ms"] == 3
    assert got["pipeline.wal_ms"] == 7
    assert got["state.commit_ms"] == 6
    assert got["state.rows_peak"] == 30       # a peak, not a per-pass sum
    assert got["state.mem_mb_peak"] == 3.0


def test_event_log_layers_counts_only_timed_windows(tmp_path):
    # rolling layout: eventlog_v2_<app>/events_1_<app>
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    inside = "1970-01-01T00:00:01.500Z"   # 1500 ms
    outside = "1970-01-01T00:00:09.000Z"  # 9000 ms
    lines = [
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener"
                  "$QueryProgressEvent",
         "progress": _progress(inside, 100, 50, 5, 1e6)},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener"
                  "$QueryProgressEvent",
         "progress": _progress(outside, 999, 999, 99, 9e6)},
    ]
    for stage, launch, finish in ((1, 1100, 1200), (1, 1100, 1500),
                                  (1, 1100, 1300), (2, 8000, 9000)):
        lines.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                      "Stage Attempt ID": 0,
                      "Task Info": {"Launch Time": launch,
                                    "Finish Time": finish},
                      "Task Metrics": {"Executor CPU Time": 10 ** 9,
                                       "JVM GC Time": 100,
                                       "Shuffle Write Metrics": {
                                           "Shuffle Bytes Written": 10 ** 6}}})
    (d / "events_1_app").write_text("\n".join(json.dumps(x) for x in lines))
    (d / "appstatus_app").write_text("")
    got = probes.event_log_layers(str(tmp_path), [(1000, 2000)])
    assert got["exec.tasks"] == 3
    assert got["exec.cpu_s"] == pytest.approx(3.0)
    assert got["exec.gc_s"] == pytest.approx(0.3)
    assert got["exec.shuffle_mb"] == pytest.approx(3.0)
    assert got["exec.skew"] == pytest.approx(400 / 200)
    assert got["pipeline.batches"] == 1
    assert got["pipeline.add_batch_ms"] == 50
    assert got["state.rows_peak"] == 5
