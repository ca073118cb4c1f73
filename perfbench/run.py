"""Benchmark entry point.

    python3 perfbench/run.py --workload facade_refresh --seed 1 --seconds 25 --trace 0

Run from the repository root.  One process, one closed-loop client thread,
Spark ``local[1]`` with a pinned 2 GiB driver heap.  After set-up (JVM and
session start, inputs, untimed warm-up ops) it runs ops until ``--seconds``
have elapsed, then checks every op's result against its oracle.

The last line of stdout is one JSON object: end-to-end metrics with
``--trace 0``; with ``--trace 1`` the time is split between an untraced
window and a traced one, and the per-layer metrics are printed.  The line
before it records the host, its CPU steal and the sample counts; a traced
run writes its spans and stage rows on the line before that.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import procfs  # noqa: E402
import stats  # noqa: E402

#: One core: the client is one closed loop and the engine's target is
#: small-plan latency.  At ``local[2]`` a facade op took a third longer and
#: used half again as much CPU (more slices, more Python worker tasks).
MASTER_CORES = 1
HEAP = "2g"
#: Scratch space for Spark and temp files, inside the checkout and removed
#: at exit.
WORK = ROOT / ".perfbench_work"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_engine():
    """A Spark session with deployment settings only: no SQL conf is
    pinned, so the engine's own defaults are what gets measured."""
    from direct_spark_sql_spark.session import Engine

    # The heap is pinned and touched up front: left to be touched as it
    # fills, its resident part varied ~15% between runs of the same work
    # on a 4-vCPU, 16 GB host.  One GC thread and two JIT threads keep the
    # JVM's own threads from needing every vCPU at once, so that a vCPU
    # the host steals stalls one thread rather than a whole GC pause.
    java_opts = (
        f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        "-XX:ParallelGCThreads=1 -XX:ConcGCThreads=1 -XX:CICompilerCount=2 "
        f"-Djava.io.tmpdir={WORK / 'tmp'}"
    )
    engine = (
        Engine.builder()
        .master(f"local[{MASTER_CORES}]")
        .app_name("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(WORK / "local"))
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
        .get_or_create()
    )
    engine.spark.sparkContext.setLogLevel("ERROR")
    engine.spark.sparkContext.setCheckpointDir(str(WORK / "checkpoint"))
    return engine


def stop_engine(engine) -> None:
    """Stop Spark, then wait until the JVM and every process under it has
    ended.  The JVM exits when its stdin closes; stragglers are killed."""
    from pyspark import SparkContext

    tree = procfs.descendants(os.getpid())[1:]
    jvm = SparkContext._gateway.proc
    engine.stop()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    while any(procfs.alive(p) for p in tree):
        if time.monotonic() > deadline:
            for p in filter(procfs.alive, tree):
                os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def fingerprint(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(procfs.mem_total_mb()),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "master": spark.sparkContext.master,
        "heap": HEAP,
    }


class Window:
    """One timed window: ops, one after another, until at least ``seconds``
    have elapsed.  Results are kept for the check."""

    def __init__(self, workload, seed: int, seconds: float, tracer=None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.latencies_ms: list[float] = []
        self.done: list[tuple] = []  # (op input, result)
        self.errors: list[str] = []
        self.raised = 0

    def run(self) -> None:
        pid = os.getpid()
        rng = random.Random(self.seed)
        wl = self.workload
        self.cpu0 = procfs.tree_cpu_split(pid)
        self.host0 = procfs.host_cpu_ticks()
        t0 = time.perf_counter()
        for op in wl.ops(rng):
            s0 = time.perf_counter()
            try:
                with self.tracer.op() if self.tracer else nullcontext():
                    result = wl.run(op)
            except Exception as exc:  # an op that raises is a failed op
                self.raised += 1
                self.errors.append(repr(exc))
                traceback.print_exc(file=sys.stderr)
            else:
                self.latencies_ms.append((time.perf_counter() - s0) * 1000.0)
                self.done.append((op, result))
            if self.tracer:
                self.tracer.collect()  # the op's Spark jobs, off the op clock
            if time.perf_counter() - t0 >= self.seconds:
                break
        self.wall_s = time.perf_counter() - t0
        self.host1 = procfs.host_cpu_ticks()
        self.cpu1 = procfs.tree_cpu_split(pid)
        self.peak_rss_mb = procfs.tree_hwm_mb(pid)

    def check(self) -> None:
        """Compare every op's result with its oracle, outside the window."""
        for op, result in self.done:
            why = self.workload.check(op, result)
            if why:
                self.errors.append(f"wrong result: {why}")

    @property
    def attempted(self) -> int:
        return len(self.done) + self.raised

    def cpu_s(self, part: str | None = None) -> float:
        if part:
            return self.cpu1[part] - self.cpu0[part]
        return sum(self.cpu1.values()) - sum(self.cpu0.values())

    def end_to_end(self, setup_s: float) -> dict:
        n = len(self.latencies_ms)
        ops = max(n, 1)
        tail_q = stats.tail_quantile(ops)
        lat = self.latencies_ms or [0.0]
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ops_per_s": {"value": stats.interquartile_rate(lat), "unit": "1/s"},
            "op_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
            "op_tail_ms": {"value": stats.percentile(lat, tail_q), "unit": "ms"},
            "cpu_ms_per_op": {"value": self.cpu_s() * 1000.0 / ops, "unit": "ms"},
            "peak_rss_mb": {"value": self.peak_rss_mb, "unit": "MB"},
        }

    def diagnostics(self) -> dict:
        n = len(self.latencies_ms)
        return {
            "ops": n,
            "tail_quantile": stats.tail_quantile(max(n, 1)),
            "wall_s": round(self.wall_s, 3),
            "ops_per_wall_s": round(n / self.wall_s, 4),
            "failed_frac": len(self.errors) / max(self.attempted, 1),
            "host_steal_share": round(procfs.steal_share(self.host0, self.host1), 5),
            "cpu_s": {k: round(self.cpu_s(k), 2) for k in self.cpu1},
            "op_ms": [round(v) for v in self.latencies_ms],
            "errors": self.errors[:5],
        }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    contract = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in contract["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not (ROOT / "direct_spark_sql_spark" / "__init__.py").is_file():
        print("the engine package is not in this checkout", file=sys.stderr)
        return 2

    import workloads

    if not Path(workloads.SF_DIR).is_dir():
        print(f"test data {workloads.SF_DIR} is missing", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")  # Python workers inherit it
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None

    engine = start_engine()
    try:
        wl = workloads.make(args.workload, engine, args.seed)
        wl.setup()
        setup_s = procfs.process_age_s(os.getpid())

        # a traced run splits its time between an untraced and a traced window
        seconds = args.seconds / 2 if args.trace else args.seconds
        plain = Window(wl, args.seed, seconds)
        plain.run()
        windows = [plain]
        if args.trace:
            import tracer as tracing

            tr = tracing.Tracer(engine, MASTER_CORES)
            traced = Window(wl, args.seed, seconds, tr)
            with tr.installed(wl):
                traced.run()
            windows.append(traced)
        for w in windows:
            w.check()
        info = {"workload": args.workload, "seed": args.seed, "setup_s": setup_s}
        info["host"] = fingerprint(engine.spark)
        info["windows"] = [w.diagnostics() for w in windows]
    finally:
        stop_engine(engine)
        shutil.rmtree(WORK, ignore_errors=True)

    if args.trace:
        metrics = tr.per_layer(plain, traced)
    else:
        metrics = plain.end_to_end(setup_s)
    stats.check_metrics(metrics, contract, bool(args.trace))
    attempted = sum(w.attempted for w in windows)
    failed = sum(len(w.errors) for w in windows)
    if args.trace:
        print(json.dumps({"trace": tr.dump()}))
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
