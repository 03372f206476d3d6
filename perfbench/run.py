#!/usr/bin/env python3
"""spark-graft benchmark: run one named workload with a given seed.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The engine package is imported from the
current directory; inputs are generated from ``--seed`` under
``.perfbench/`` and removed at exit. A run times one pass of the
workload, the first in a fresh JVM (``--seconds`` cannot stretch it);
its outputs are verified after the clock stops.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The lines before
it give the input sizes, the host and, untraced, the per-operation
latency (median and tail) with its sample count; progress goes to
stderr. A traced run traces that pass, adds an untraced and a traced
pass for the tracing overhead, and writes its spans to
``.perfbench/spans/``. METRICS.md describes the workloads and metrics.
``--smoke`` runs every workload on tiny inputs, traced and untraced, and
checks that every metric named in BENCHMARK.json is printed with its
unit and no operation failed.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def tail_percentile(n: int) -> int:
    """Highest whole percentile that leaves at least 10 of ``n``
    samples beyond it (nearest rank); 100, the maximum, when ``n`` is
    too small for any percentile to do so."""
    return (100 * (n - 10)) // n if n > 10 else 100


def nearest_rank(xs: list[float], p: int) -> float:
    xs = sorted(xs)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def reset_hwm(pid: int | str) -> None:
    """Restart a process's peak-RSS count (VmHWM) from its current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def canaries() -> dict[str, float]:
    """Fixed work, so a reading can be judged against the host it was
    taken on: a 2000x2000 float64 matmul (all cores) and a 1e7-step
    Python loop (one core)."""
    import numpy as np

    rng = np.random.default_rng(7)
    a, b = rng.random((2000, 2000)), rng.random((2000, 2000))
    t0 = time.perf_counter()
    a @ b
    t1 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    t2 = time.perf_counter()
    return {"numpy_matmul_2000_s": round(t1 - t0, 4), "python_loop_1e7_s": round(t2 - t1, 4)}


class Session:
    """The run's one SparkSession and its JVM."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self):
        from hz_csv2parquet_spark.session import get_spark

        self.spark = get_spark(
            app="perfbench",
            cpus=os.cpu_count(),
            extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def quiesce(spark) -> None:
    """Untimed hygiene between passes: drop memoized frames and force
    the JVM's major GC now, not inside the next pass."""
    from hz_csv2parquet_spark.tables import memo_clear

    memo_clear()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(args) -> dict:
    from probe import Recorder
    from workloads import make

    work = os.path.join(STATE, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = os.cpu_count()
    b = spec()
    wl = make(args.workload, args.seed, args.small)
    rec = Recorder(None, False)
    session = Session(work)
    outs: list[str] = []

    def one_pass(traced: bool):
        """Run pass ``len(outs)``; returns (wall seconds, its Pass)."""
        k = len(outs)
        outs.append(os.path.join(work, f"pass{k}"))
        rec.trace = traced
        rec.counts = {}
        t0 = time.perf_counter()
        with rec.span("pass", f"pass{k}"):
            p = wl.run_pass(spark, rec, k, outs[k])
        dt = time.perf_counter() - t0
        log(f"pass {k}{' traced' if traced else ''} {dt:.2f}s")
        return dt, p

    try:
        # the inputs and the oracles are the benchmark's own work:
        # set-up time leaves them out
        t0 = time.perf_counter()
        sizes = wl.generate(os.path.join(work, "data"))
        gen_s = time.perf_counter() - t0
        print(f"# inputs {json.dumps(sizes)}", flush=True)

        t0 = time.perf_counter()
        spark = session.start()
        session_start = time.perf_counter() - t0
        rec.spark = spark
        jvm = session.jvm_pid()
        for pid in ("self", jvm):
            reset_hwm(pid)
        setup_s = process_age() - gen_s

        # The timed pass is the first one in the fresh JVM, as one batch
        # run of the tools meets it. A traced run traces that pass for
        # its layer metrics, and takes its tracing overhead from one
        # more untraced and one more traced pass in the warm JVM.
        pass_s, p = one_pass(bool(args.trace))
        latencies, passes = p.latencies, [p]
        hwm = vm_hwm_kb("self") + vm_hwm_kb(jvm)
        layers: dict[str, float] = {}
        if args.trace:
            spans = list(rec.spans)
            layers = wl.layers(spans, cores)
            layers.update(wl.after_pass(outs[0], rec))
            for name, v in rec.self_times(spans).items():
                key = f"self.{name.split('.')[0]}_s"
                layers[key] = layers.get(key, 0) + v
            warm = {}
            for traced in (False, True):
                quiesce(spark)
                warm[traced], p = one_pass(traced)
                passes.append(p)

        # every pass's outputs, checked after the clock stops
        attempted = sum(len(p.latencies) + len(p.failed) for p in passes)
        failed = sum(len(p.failed) for p in passes)
        t0 = time.perf_counter()
        for out in outs:
            a, f = wl.verify(spark, out)
            attempted, failed = attempted + a, failed + f
            shutil.rmtree(out, ignore_errors=True)
        check_s = time.perf_counter() - t0
        log(f"check {check_s:.2f}s")
        host = {
            "nproc": cores,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    log("closed")
    host.update(canaries())
    print(f"# host {json.dumps(host)}", flush=True)

    if args.trace:
        metrics = dict.fromkeys((m["name"] for m in b["per_layer"]), 0)
        metrics.update(layers)
        metrics["session.start_s"] = session_start
        metrics["check_s"] = check_s
        metrics["mem.peak_rss_mb"] = hwm / 1024
        metrics["trace.overhead_s"] = warm[True] - warm[False]
        spans_path = os.path.join(STATE, "spans", f"{args.workload}-{args.seed}-{os.getpid()}.json")
        rec.dump(spans_path)
        print(f"# spans {spans_path} ({len(rec.spans)} spans)", flush=True)
        units = {m["name"]: m["unit"] for m in b["per_layer"]}
    else:
        # per-operation latency is context, not a bounded metric: the
        # timed pass gives ~20 samples of ~20 kinds of operation, and
        # leaves only a low percentile with ten samples beyond it
        pct = tail_percentile(len(latencies))
        tail = nearest_rank(latencies, pct)
        print(
            f"# op_p50_s {statistics.median(latencies):.4f} s, op_tail_s {tail:.4f} s (p{pct}),"
            f" over {len(latencies)} operation samples",
            flush=True,
        )
        metrics = {"setup_s": setup_s, "pass_s": pass_s}
        units = {m["name"]: m["unit"] for m in b["end_to_end"]}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }


def smoke() -> int:
    """Every workload on tiny inputs, untraced and traced: each metric
    of BENCHMARK.json printed with its unit, and nothing failed."""
    b = spec()
    bad = []
    for w in b["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--small"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{w['name']}/trace={trace}: no result (rc {proc.returncode})")
                continue
            want = {m["name"]: m["unit"] for m in b[key]}
            got = {n: m.get("unit") for n, m in res["metrics"].items()}
            if got != want:
                bad.append(f"{w['name']}/trace={trace}: metrics {sorted(set(got) ^ set(want))} differ")
            if res["failed"] or not res["correct"] or proc.returncode:
                bad.append(f"{w['name']}/trace={trace}: {res['failed']} of {res['attempted']} failed")
            print(f"smoke {w['name']} trace={trace}: {res['attempted']} attempted, {res['failed']} failed")
    for line in bad:
        print(f"SMOKE FAIL {line}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=35,
                    help="run length; a run times exactly one whole pass, the first in a fresh JVM")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (smoke mode)")
    ap.add_argument("--smoke", action="store_true", help="run every workload on tiny inputs")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hz_csv2parquet_spark", "__init__.py")):
        print("perfbench: run from the repository root (hz_csv2parquet_spark/ not found)", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    names = [w["name"] for w in spec()["workloads"]]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2

    # everything the run writes stays under the checkout; the JVMs
    # keep no perf-data file in the system temp directory
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
