"""Self-tests of the benchmark's own arithmetic and oracles; no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
import pytest

import oracle
import tracing
from stats import Outcomes, driver_gap, failed_frac, interval_union, self_time, summary

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------------ stats
def test_summary_quartiles_and_count():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    s = summary(vals)
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert (s["q1"], s["p50"], s["q3"], s["n"]) == (q1, statistics.median(vals), q3, 6)
    assert s["q1"] <= s["p50"] <= s["q3"]


def test_summary_single_and_empty():
    assert summary([2.5]) == {"p50": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}
    with pytest.raises(ValueError):
        summary([])


def test_interval_union_overlaps_count_once():
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union([(0, 10), (2, 3)]) == 10  # nested
    assert interval_union([(3, 4), (0, 1)]) == 2  # unsorted, disjoint
    assert interval_union([]) == 0


def test_interval_union_clips_to_window():
    assert interval_union([(-5, 2), (8, 20)], lo=0, hi=10) == 4
    assert interval_union([(11, 12)], lo=0, hi=10) == 0


def test_driver_gap_is_wall_minus_job_union():
    # span 0-10; jobs 1-3 and 2-5 overlap (union 4), 9-12 is clipped to 1
    assert driver_gap((0, 10), [(1, 3), (2, 5), (9, 12)]) == pytest.approx(5)
    assert driver_gap((0, 10), []) == 10


def test_self_time_subtracts_child_coverage():
    assert self_time((0, 10), [(0, 4), (6, 10)]) == pytest.approx(2)
    assert self_time((0, 10), [(0, 10)]) == 0


def test_failed_frac_accounting():
    o = Outcomes()
    o.record("a", True)
    o.record("b", False, "ValueError: boom")  # an exception
    o.record("c", False)  # a wrong answer
    o.record("d", True)
    assert (o.attempted, o.failed, o.frac) == (4, 2, 0.5)
    assert o.messages == ["b: ValueError: boom", "c: output mismatch"]
    assert failed_frac(3, 0) == 0
    with pytest.raises(ValueError):
        failed_frac(0, 0)
    with pytest.raises(ValueError):
        failed_frac(2, 3)


# ---------------------------------------------------------------- tracing
@pytest.mark.parametrize("text,value", [
    ("12,610", 12610),
    ("813.8 KiB", 813.8 * 1024),
    ("0 ms", 0.0),
    ("2.5 MiB", 2.5 * 2**20),
    ("total (min, med, max (stageId: taskId))\n1.4 s (199 ms, 276 ms, 437 ms (stage 5.0: task 24))", 1.4),
    ("total (min, med, max (stageId: taskId))\n2.1 m (1 s, 2 s, 3 s (stage 1.0: task 2))", 126.0),
])
def test_metric_value(text, value):
    assert tracing.metric_value(text) == pytest.approx(value)


def test_metric_value_rejects_other_shapes():
    assert tracing.metric_value("(1, 2)") is None
    assert tracing.metric_value("3 parsecs") is None


def test_parse_ts():
    a = tracing.parse_ts("2026-10-16T17:39:27.545GMT")
    b = tracing.parse_ts("2026-10-16T17:39:28.045GMT")
    assert b - a == pytest.approx(0.5)


def _ts(t):
    return f"2026-01-01T00:00:{t:06.3f}GMT"


def test_attribute_sums_jobs_stages_and_sql_per_span():
    base = tracing.parse_ts(_ts(0))
    spans = [
        {"id": 0, "name": "op", "phase": None, "parent": None, "pass": 1, "start": base, "end": base + 10},
        {"id": 1, "name": tracing.READ, "phase": "action", "parent": 0, "pass": 1,
         "start": base, "end": base + 10},
    ]
    jobs = [
        {"jobId": 7, "jobGroup": "perfbench-1", "submissionTime": _ts(1), "completionTime": _ts(3),
         "stageIds": [1, 2]},
        {"jobId": 8, "jobGroup": "perfbench-1", "submissionTime": _ts(2), "completionTime": _ts(5),
         "stageIds": [2, 3]},
        {"jobId": 9, "jobGroup": "other", "submissionTime": _ts(1), "completionTime": _ts(9),
         "stageIds": [4]},
    ]

    def stage(sid, status="COMPLETE", tasks=2):
        return {"stageId": sid, "status": status, "numCompleteTasks": tasks, "numFailedTasks": 1,
                "executorRunTime": 1000, "executorCpuTime": 5e8, "jvmGcTime": 100,
                "shuffleWriteBytes": 2**20, "shuffleFetchWaitTime": 10, "memoryBytesSpilled": 0,
                "diskBytesSpilled": 2**20, "peakExecutionMemory": sid * 2**20}

    stages = [stage(1), stage(2), stage(3, "SKIPPED", 0), stage(4)]
    sql = [{
        "id": 0, "successJobIds": [7, 8],
        "nodes": [
            {"nodeId": 0, "nodeName": "Scan parquet", "metrics": [
                {"name": "number of files read", "value": "3"},
                {"name": "size of files read", "value": "1.0 MiB"}]},
            {"nodeId": 1, "nodeName": "MapInArrow", "metrics": [
                {"name": "time to run Python workers", "value": "2 s"}]},
            {"nodeId": 2, "nodeName": "Union", "metrics": []},
            {"nodeId": 3, "nodeName": "MapInArrow", "metrics": [
                {"name": "time to run Python workers", "value": "500 ms"}]},
        ],
        "edges": [{"fromId": 0, "toId": 1}, {"fromId": 1, "toId": 2}, {"fromId": 2, "toId": 3}],
    }]
    c = tracing.attribute(spans, jobs, stages, sql)[1]
    assert c["jobs"] == 2
    assert c["stages"] == 2  # stage 2 counted once, skipped stage 3 not at all
    assert c["tasks"] == 6 and c["failed_tasks"] == 2
    assert c["executor_run_s"] == pytest.approx(2) and c["executor_cpu_s"] == pytest.approx(1)
    assert c["spill_mb"] == pytest.approx(2) and c["peak_exec_mem_mb"] == pytest.approx(2)
    assert c["driver_gap_s"] == pytest.approx(6)  # 10 s wall, jobs cover 1-5
    assert c["files_read"] == 3 and c["bytes_read_mb"] == pytest.approx(1)
    assert c[f"{tracing.REFINE}.python_run_s"] == pytest.approx(2)  # below the Union
    assert c[f"{tracing.MEASURES}.python_run_s"] == pytest.approx(0.5)  # above it
    assert 0 not in tracing.attribute(spans, jobs, stages, sql)  # no phase: not a leaf


def test_layer_metrics_match_benchmark_json():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    assert declared == tracing.LAYER_METRICS
    assert len({n for n, *_ in declared}) == len(declared)


# ----------------------------------------------------------------- oracle
def test_holed_diamonds_hit_rect():
    cx, cy, r = np.array([0.0, 0.0, 0.0]), np.array([0.0, 0.0, 0.0]), np.array([2.0, 2.0, 2.0])
    inside_hole = (-0.2, -0.2, 0.2, 0.2)
    crossing = (-0.2, -0.2, 1.5, 0.2)
    far = (5.0, 5.0, 6.0, 6.0)
    got = [oracle.holed_diamonds_hit_rect(cx, cy, r, rc)[0] for rc in (inside_hole, crossing, far)]
    assert got == [False, True, False]


def test_candidate_pairs_complete_within_cell():
    rng = np.random.default_rng(0)
    a, b = rng.uniform(0, 50, (2, 300)), rng.uniform(0, 50, (2, 400))
    d = 2.5
    got = oracle.pairs_within(a[0], a[1], np.arange(300), b[0], b[1], np.arange(400), d)
    d2 = (a[0][:, None] - b[0][None]) ** 2 + (a[1][:, None] - b[1][None]) ** 2
    i, j = np.nonzero(d2 <= d * d)
    assert np.array_equal(got, oracle.pair_keys(i, j))


def test_knn_brute_orders_by_distance():
    idx, d2 = oracle.knn_brute(np.array([0.0]), np.array([0.0]),
                               np.array([3.0, 1.0, 2.0]), np.array([0.0, 0.0, 0.0]), 2)
    assert idx.tolist() == [[1, 2]] and d2.tolist() == [[1.0, 4.0]]


def test_span_removal_keep_none():
    docs = [["a", "b", "c", "d"], ["a", "b", "x", "y"], ["q"]]
    assert oracle.span_removal(docs, 2, 2) == [(1, "c d"), (1, "x y"), (1, "q")]


def test_bpe_segment_applies_merges_by_rank():
    merges = [("a", "b"), ("ab", "c"), ("c", "</w>")]
    assert oracle.bpe_segment("abc", merges) == ["abc", "</w>"]
    assert oracle.bpe_segment("cab", merges) == ["c", "ab", "</w>"]
    assert oracle.bpe_segment("ac", merges) == ["a", "c</w>"]
