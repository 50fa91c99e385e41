"""Spans recorded around every call into the package, and the per-layer
counters a traced run reads back from Spark's monitoring REST API.

Every run records spans (they time the passes). A traced run also tags each
call and action span with ``sc.setJobGroup(<span id>, "<workload>:<module.
function>:<call|action>")``, snapshots ``/executors`` after each pass, and
when the passes are done reads ``/jobs``, ``/stages`` and
``/sql?details=true`` once, so the REST traffic never falls inside a
timed pass."""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from urllib.parse import urlparse

from stats import driver_gap, self_time

MB = 1024 * 1024

READ = "sources.spatial_parquet.read_spatial_parquet_cx"
MEASURES = "functions.arrow_kernels.with_measures"
REFINE = "functions.arrow_kernels.cx_filter_arrow"
WRITES = [
    "sources.spatial_parquet.write_spatial_parquet",
    "sources.spatial_parquet.append_spatial_parquet",
    "sources.spatial_parquet.compact_spatial_parquet",
]
JOINS = [
    "operators.sjoin.sjoin-broadcast",
    "operators.sjoin.sjoin-grid",
    "operators.knn.sjoin_knn",
    "operators.knn.sjoin_nearest",
    "operators.knn.sjoin_dwithin",
]
CURATE = [
    "operators.dedup.near_dup_clusters",
    "operators.sketch.corpus_overlap",
    "operators.spans.remove_duplicate_spans",
    "operators.bpe.bpe_encode",
]
PYTHON = ["python_run_s", "python_start_s", "python_init_s", "python_sent_mb", "python_recv_mb"]
SPARK = [
    "jobs", "stages", "tasks", "failed_tasks", "driver_gap_s", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "spill_mb", "peak_exec_mem_mb", "cpu_util",
]

_UNIT = {"s": ("s", "lower"), "mb": ("MB", "lower"), "frac": ("ratio", "higher"),
         "amp": ("ratio", "lower"),
         "ratio": ("ratio", "lower"), "util": ("ratio", "higher")}


def _unit(counter: str) -> tuple[str, str]:
    return _UNIT.get(counter.rsplit("_", 1)[-1], ("count", "lower"))


def _layer_names() -> list[str]:
    names = ["session.get_spark.wall_s", "trace.pass_s.p50"]
    names += [f"{READ}.{c}" for c in ("call_s", "action_s", "files_read_frac", "bytes_read_mb")]
    names += ["sources.spatial_parquet.write_amp"]
    for k in (MEASURES, REFINE):
        names += [f"{k}.{c}" for c in ["action_s"] + PYTHON]
    for w in WRITES:
        names += [f"{w}.{c}" for c in ("wall_s", "files_written", "bytes_written_mb", "shuffle_write_mb")]
    for j in JOINS:
        names += [f"{j}.{c}" for c in (
            "call_s", "action_s", "jobs", "shuffle_write_mb", "shuffle_fetch_wait_s", "candidate_ratio",
        )]
    for c in CURATE:
        names += [f"{c}.{x}" for x in ("call_s", "action_s", "jobs")]
    names += [f"spark.{c}" for c in SPARK + ["storage_mem_mb", "rdd_blocks"]]
    return names


#: every per-layer metric a traced run prints, in BENCHMARK.json order
LAYER_METRICS = [
    (n, *_unit("pass_s" if n == "trace.pass_s.p50" else n.rsplit(".", 1)[-1]))
    for n in _layer_names()
]


class Recorder:
    """Spans kept in memory: ``(id, name, phase, parent, pass, start, end)``.
    With a SparkContext given, leaf spans also tag the jobs they start."""

    def __init__(self, workload: str, sc=None):
        self.workload = workload
        self.sc = sc
        self.spans: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, phase: str | None = None, parent: int | None = None,
             pass_no: int | None = None):
        sid = self._next
        self._next += 1
        tag = self.sc is not None and phase is not None
        if tag:
            self.sc.setJobGroup(f"perfbench-{sid}", f"{self.workload}:{name}:{phase}")
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            if tag:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"id": sid, "name": name, "phase": phase, "parent": parent,
                               "pass": pass_no, "start": start, "end": end})


class SparkRest:
    """Reader for the live UI's ``/api/v1`` endpoints of one application."""

    def __init__(self, sc):
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def executors(self) -> dict:
        ex = self.get("/executors")
        return {
            "storage_mem_mb": sum(e["memoryUsed"] for e in ex) / MB,
            "rdd_blocks": sum(e["rddBlocks"] for e in ex),
            "jvm_gc_s": sum(e["totalGCTime"] for e in ex) / 1000,
        }

    def settled(self, timeout: float = 30.0) -> tuple[list, list, list]:
        """Jobs, stages and SQL executions once no job is still running and
        the listener has caught up (two identical job lists in a row)."""
        deadline = time.time() + timeout
        prev = None
        while True:
            jobs = self.get("/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if key == prev and all(s != "RUNNING" for _, s in key):
                break
            if time.time() > deadline:
                break
            prev = key
            time.sleep(0.5)
        return jobs, self.get("/stages"), self.get("/sql?details=true&offset=0&length=100000")


def parse_ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_SCALE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": MB * MB,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float | None:
    """A SQL UI metric string as a number in bytes, seconds or units:
    ``"12,610"``, ``"813.8 KiB"``, or the task-summary form whose second
    line starts with the total (``"total (min, med, max ...)\\n1.4 s (...)"``).
    None for a string of another shape."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    parts = line.split(" (")[0].split()
    try:
        num = float(parts[0].replace(",", ""))
        return num * _SCALE[parts[1]] if len(parts) > 1 else num
    except (IndexError, KeyError, ValueError):
        return None


def _sql_counters(execution: dict, op_name: str) -> dict:
    """Counters from one SQL execution's plan-graph node metrics."""
    nodes = {n["nodeId"]: n for n in execution.get("nodes", [])}
    parents: dict[int, list[int]] = {}
    for e in execution.get("edges", []):
        parents.setdefault(e["fromId"], []).append(e["toId"])

    def under_union(nid: int) -> bool:
        todo, seen = list(parents.get(nid, [])), set()
        while todo:
            p = todo.pop()
            if p in seen or p not in nodes:
                continue
            seen.add(p)
            if nodes[p]["nodeName"] == "Union":
                return True
            todo.extend(parents.get(p, []))
        return False

    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0.0) + v

    for nid, n in nodes.items():
        m = {x["name"]: metric_value(x["value"]) for x in n.get("metrics", [])}
        m = {k: v for k, v in m.items() if v is not None}
        name = n["nodeName"]
        if name.startswith("Scan parquet"):
            add("files_read", m.get("number of files read", 0))
            add("bytes_read_mb", m.get("size of files read", 0) / MB)
        if "time to run Python workers" in m:
            vals = {
                "python_run_s": m.get("time to run Python workers", 0),
                "python_start_s": m.get("time to start Python workers", 0),
                "python_init_s": m.get("time to initialize Python workers", 0),
                "python_sent_mb": m.get("data sent to Python workers", 0) / MB,
                "python_recv_mb": m.get("data returned from Python workers", 0) / MB,
            }
            kernel = None
            if op_name == READ and name == "MapInArrow":
                kernel = REFINE if under_union(nid) else MEASURES
            for k, v in vals.items():
                add(k, v)
                if kernel:
                    add(f"{kernel}.{k}", v)
            if kernel:
                out[f"{kernel}.ran"] = 1.0
        if "number of written files" in m:
            add("files_written", m["number of written files"])
            add("bytes_written_mb", m.get("written output", 0) / MB)
        if name == "Generate":
            add("generate_rows", m.get("number of output rows", 0))
        if "Join" in name:
            add("join_rows", m.get("number of output rows", 0))
    return out


def attribute(spans: list[dict], jobs: list, stages: list, sql: list) -> dict[int, dict]:
    """Per leaf span (one that tagged its jobs): Spark counters summed over
    the span's jobs, their stage attempts and their SQL executions, plus
    the job intervals behind ``driver_gap_s``."""
    by_group: dict[int, list] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        if g.startswith("perfbench-"):
            by_group.setdefault(int(g.split("-", 1)[1]), []).append(j)
    attempts: dict[int, list] = {}
    for s in stages:
        attempts.setdefault(s["stageId"], []).append(s)
    exec_of_job = {}
    for ex in sql:
        for jid in ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", []):
            exec_of_job[jid] = ex

    out: dict[int, dict] = {}
    for sp in spans:
        if sp["phase"] is None:
            continue
        js = by_group.get(sp["id"], [])
        c = {k: 0.0 for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                              "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb",
                              "shuffle_fetch_wait_s", "spill_mb", "peak_exec_mem_mb")}
        c["jobs"] = len(js)
        intervals, seen_stage, seen_exec = [], set(), set()
        for j in js:
            if j.get("submissionTime"):
                end = j.get("completionTime")
                intervals.append((parse_ts(j["submissionTime"]), parse_ts(end) if end else sp["end"]))
            for sid in j.get("stageIds", []):
                if sid in seen_stage:
                    continue
                seen_stage.add(sid)
                for st in attempts.get(sid, []):
                    if st["status"] == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    c["failed_tasks"] += st["numFailedTasks"]
                    c["executor_run_s"] += st["executorRunTime"] / 1000
                    c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    c["jvm_gc_s"] += st["jvmGcTime"] / 1000
                    c["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
                    c["shuffle_fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1000
                    c["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / MB
                    c["peak_exec_mem_mb"] = max(c["peak_exec_mem_mb"], st["peakExecutionMemory"] / MB)
            ex = exec_of_job.get(j["jobId"])
            if ex is not None and ex["id"] not in seen_exec:
                seen_exec.add(ex["id"])
                for k, v in _sql_counters(ex, sp["name"]).items():
                    c[k] = c.get(k, 0.0) + v
        c["job_intervals"] = intervals
        c["driver_gap_s"] = driver_gap((sp["start"], sp["end"]), intervals)
        out[sp["id"]] = c
    return out


def _op_spans(spans: list[dict], pass_no: int) -> list[dict]:
    pass_id = next(s["id"] for s in spans if s["name"] == "pass" and s["pass"] == pass_no)
    return [s for s in spans if s["parent"] == pass_id]


def pass_time(spans: list[dict], pass_no: int) -> float:
    """Wall time of a pass: the sum of its operations' spans, so the
    output checks between operations never count."""
    return sum(s["end"] - s["start"] for s in _op_spans(spans, pass_no))


def op_times(spans: list[dict], passes: list[int]) -> dict[str, float]:
    """Per operation name, the median over passes of its summed time."""
    per_pass = []
    for p in passes:
        t: dict[str, float] = {}
        for s in _op_spans(spans, p):
            t[s["name"]] = t.get(s["name"], 0.0) + s["end"] - s["start"]
        per_pass.append(t)
    return medians(dict(enumerate(per_pass)))


def per_pass_layers(spans: list[dict], counters: dict[int, dict], passes: list[int],
                    cores: int, useful_files: dict[int, int], out_rows: dict[int, int],
                    series: dict[int, dict]) -> dict[int, dict]:
    """Per timed pass, every per-layer metric except the run-level ones."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    result = {}
    for p in passes:
        v: dict[str, float] = {}

        def add(key, x):
            v[key] = v.get(key, 0.0) + x

        files_read = files_useful = 0.0
        cand_rows: dict[str, float] = {}
        res_rows: dict[str, float] = {}
        totals = {k: 0.0 for k in SPARK}
        for op in _op_spans(spans, p):
            name = op["name"]
            op_intervals = []
            for leaf in children.get(op["id"], []):
                c = counters.get(leaf["id"], {})
                dur = leaf["end"] - leaf["start"]
                add(f"{name}.{leaf['phase']}_s", dur)
                add(f"{name}.wall_s", dur)
                for k in ("jobs", "shuffle_write_mb", "shuffle_fetch_wait_s", "bytes_read_mb",
                          "files_written", "bytes_written_mb"):
                    add(f"{name}.{k}", c.get(k, 0.0))
                for kernel in (MEASURES, REFINE):
                    if c.get(f"{kernel}.ran"):
                        add(f"{kernel}.action_s", dur)
                    for k in PYTHON:
                        add(f"{kernel}.{k}", c.get(f"{kernel}.{k}", 0.0))
                if name == READ:
                    files_read += c.get("files_read", 0.0)
                cand = c.get("generate_rows") or c.get("join_rows", 0.0)
                cand_rows[name] = cand_rows.get(name, 0.0) + cand
                for k in SPARK:
                    if k not in ("driver_gap_s", "cpu_util"):
                        if k == "peak_exec_mem_mb":
                            totals[k] = max(totals[k], c.get(k, 0.0))
                        else:
                            totals[k] += c.get(k, 0.0)
                op_intervals += c.get("job_intervals", [])
            totals["driver_gap_s"] += driver_gap((op["start"], op["end"]), op_intervals)
            if name == READ and op["id"] in useful_files:
                files_useful += useful_files[op["id"]]
            if op["id"] in out_rows:
                res_rows[name] = res_rows.get(name, 0.0) + out_rows[op["id"]]
        totals["cpu_util"] = totals["executor_cpu_s"] / (pass_time(spans, p) * cores)
        v.update({f"spark.{k}": x for k, x in totals.items()})
        v[f"{READ}.files_read_frac"] = files_useful / files_read if files_read else 0.0
        for name, cand in cand_rows.items():
            v[f"{name}.candidate_ratio"] = cand / max(res_rows.get(name, 0.0), 1.0)
        v["spark.storage_mem_mb"] = series[p]["storage_mem_mb"]
        v["spark.rdd_blocks"] = series[p]["rdd_blocks"]
        result[p] = v
    return result


def span_records(spans: list[dict], counters: dict[int, dict]) -> list[dict]:
    """Spans as written to the trace file, each with its self time."""
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = []
    for sp in spans:
        rec = dict(sp)
        rec["self_s"] = self_time((sp["start"], sp["end"]), kids.get(sp["id"], []))
        c = {k: v for k, v in counters.get(sp["id"], {}).items() if k != "job_intervals"}
        if c:
            rec["counters"] = c
        out.append(rec)
    return out


def medians(per_pass: dict[int, dict]) -> dict[str, float]:
    keys = set().union(*per_pass.values()) if per_pass else set()
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass.values()) for k in keys}
