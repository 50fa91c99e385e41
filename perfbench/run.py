"""Seeded closed-loop benchmark of spatialpandas_spark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. One client in one driver process on
``local[nproc]`` repeats a fixed, seeded mix of operations (a pass); each
operation waits for the previous one and its output is checked against a
driver-side reference. The last line of standard output is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``): the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans and counters to ``.perfbench/traces/``. See
``perfbench/README.md``."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
# set-ups per run; setup_s is their median. The first launches the JVM and
# the next is slowed by its start-up, so the median needs five.
SETUPS = 5
WARMUP_PASSES = 1
MIN_PASSES = 2
# the heap starts at its maximum and is touched up front, so the memory in use
# does not depend on the collector's heap-sizing decisions of the moment
DRIVER_MEMORY = "1g"


def _pin_session_env(work: str, trace: bool) -> None:
    """Session settings the benchmark fixes, applied before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_MAX_PARTITION_BYTES="128m",
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_UI="true" if trace else "false",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' pyspark-shell"
        ),
    )


class ProcessTree:
    """Samples the summed proportional set size (PSS) of this process and
    every descendant (JVM, Python workers) from ``/proc``; remembers every
    pid it saw. PSS, not RSS: Python workers are forked from one daemon and
    share its pages, which RSS would count once per worker."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _pids(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def sample(self) -> None:
        total = 0
        for p in self._pids():
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    pss = next(line for line in f if line.startswith("Pss:"))
                total += int(pss.split()[1]) * 1024
            except (OSError, StopIteration, IndexError, ValueError):
                continue
            if p != os.getpid():
                self.seen.add(p)
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _stop_spark(spark, tree: ProcessTree) -> None:
    """Stop the session, end the JVM and wait until every process the run
    started has exited."""
    from pyspark import SparkContext

    tree.sample()
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for sig in (signal.SIGTERM, signal.SIGKILL):
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree.seen):
            time.sleep(0.1)
        for p in tree.seen:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10


def _run_op(rec, op, pass_no, parent, outcomes):
    """One operation: its call span, then its action span, then the check,
    which runs outside the operation's span. Returns the span id and the
    consumed output."""
    value, err = None, None
    with rec.span(op.name, parent=parent, pass_no=pass_no) as sid:
        try:
            with rec.span(op.name, "call", parent=sid, pass_no=pass_no):
                value = op.call()
            if op.action is not None:
                with rec.span(op.name, "action", parent=sid, pass_no=pass_no):
                    value = op.action(value)
        except Exception as e:  # a failed operation is counted, the loop goes on
            err = f"{type(e).__name__}: {e}".splitlines()[0]
            traceback.print_exc(file=sys.stderr)
    err = err or op.check(value)
    outcomes.record(op.name, err is None, err or "")
    if err:
        print(f"FAILED {op.name}: {err}", file=sys.stderr)
    return sid, value


def _pass(rec, wl, pass_no, outcomes):
    ops = wl.ops(pass_no)
    with rec.span("pass", pass_no=pass_no) as pid:
        results = [(op, *_run_op(rec, op, pass_no, pid, outcomes)) for op in ops]
    wl.after_pass(pass_no, ops)
    return results


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import spatialpandas_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test ({e}); "
              "run from the repository root", file=sys.stderr)
        return 2
    from stats import Outcomes, summary
    from workloads import WORKLOADS

    import tracing

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _pin_session_env(work, trace)

    t_run = time.perf_counter()
    phases = ""
    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
    t_inputs = time.perf_counter()
    wl.count_files = trace
    outcomes = Outcomes()
    tree = ProcessTree()
    spark = None
    try:
        from spatialpandas_spark.session import get_spark

        setup_s, session_s = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark()
            session_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)
        sc = spark.sparkContext
        cores = sc.defaultParallelism
        rec = tracing.Recorder(wl.name, sc if trace else None)
        rest = tracing.SparkRest(sc) if trace else None
        pass_no = 0
        t_warm = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            _pass(rec, wl, pass_no, outcomes)
            pass_no += 1
        tree.start()
        timed, series, out_rows, op_spans = [], {}, {}, []
        t_start = time.perf_counter()
        phases = f"inputs {t_inputs - t_run:.1f} s, set-ups {t_warm - t_inputs:.1f} s, warm-up {t_start - t_warm:.1f} s, "
        while len(timed) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
            results = _pass(rec, wl, pass_no, outcomes)
            timed.append(pass_no)
            if rest is not None:
                series[pass_no] = rest.executors()
            for op, sid, value in results:
                op_spans.append((op, sid))
                if isinstance(value, list):
                    out_rows[sid] = len(value)
            pass_no += 1
        tree.stop()
        tree.sample()
        phases += f"timed {time.perf_counter() - t_start:.1f} s, "

        pass_s = [tracing.pass_time(rec.spans, p) for p in timed]
        rows = sum(op.rows for op, _ in op_spans)
        ps = summary(pass_s)
        write_amp = wl.stored_bytes() / wl.input_bytes if wl.input_bytes else 0.0
        print(f"{wl.name} seed={args.seed}: {len(timed)} passes, pass_s p50={ps['p50']:.4f} "
              f"q1={ps['q1']:.4f} q3={ps['q3']:.4f} {[round(s, 3) for s in pass_s]}, "
              f"setup_s={[round(s, 3) for s in setup_s]}, "
              f"write_amp={write_amp:.4f}, "
              f"failed_frac={outcomes.frac:.4f} ({outcomes.failed}/{outcomes.attempted})")
        for m in outcomes.messages:
            print(f"  failure: {m}")

        record = {
            "workload": wl.name, "seed": args.seed, "trace": trace, "cores": cores,
            "pass_s": {**ps, "values": pass_s}, "op_s": tracing.op_times(rec.spans, timed),
            "setup_s": setup_s,
            "get_spark_s": session_s, "failed_frac": outcomes.frac, "write_amp": write_amp,
        }
        os.makedirs(os.path.join(state, "results"), exist_ok=True)
        if trace:
            jobs, stages, sql = rest.settled()
            useful = {sid: op.useful_files for op, sid in op_spans if op.useful_files is not None}
            counters = tracing.attribute(rec.spans, jobs, stages, sql)
            per_pass = tracing.per_pass_layers(
                rec.spans, counters, timed, cores, useful, out_rows, series
            )
            layer = tracing.medians(per_pass)
            layer["session.get_spark.wall_s"] = session_s[0]
            layer["trace.pass_s.p50"] = ps["p50"]
            layer["sources.spatial_parquet.write_amp"] = write_amp
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u, _ in tracing.LAYER_METRICS}
            untraced = os.path.join(state, "results", f"{wl.name}-trace0.json")
            overhead = None
            if os.path.exists(untraced):
                with open(untraced) as f:
                    overhead = ps["p50"] - json.load(f)["pass_s"]["p50"]
                print(f"tracing overhead: {overhead:+.4f} s per pass "
                      "(traced pass_s.p50 minus the last untraced run's)")
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            out = os.path.join(state, "traces", f"{wl.name}-seed{args.seed}.json")
            with open(out, "w") as f:
                json.dump({**record, "tracing_overhead_s": overhead, "series": series,
                           "per_pass": per_pass, "per_layer": layer,
                           "spans": tracing.span_records(rec.spans, counters)}, f)
            print(f"trace written to {os.path.relpath(out, ROOT)}")
        else:
            metrics = {
                "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
                "pass_s.p50": {"value": ps["p50"], "unit": "s"},
                "rows_per_s": {"value": rows / sum(pass_s), "unit": "rows/s"},
                "peak_pss_mb": {"value": tree.peak / 2**20, "unit": "MB"},
            }
        with open(os.path.join(state, "results", f"{wl.name}-trace{int(trace)}.json"), "w") as f:
            json.dump(record, f)
    finally:
        tree.stop()
        t_stop = time.perf_counter()
        _stop_spark(spark, tree)
        print(f"run phases: {phases}stop {time.perf_counter() - t_stop:.1f} s, "
              f"total {time.perf_counter() - t_run:.1f} s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": outcomes.failed == 0, "attempted": outcomes.attempted,
                      "failed": outcomes.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
