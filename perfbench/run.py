"""Benchmark of the record-reformer Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process, one Spark session with at most
4 task slots and a 6 GiB heap; the workload's inputs are generated from
``--seed`` into ``.perfbench_work/`` and removed at exit.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from typing import Callable  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOTS = min(4, os.cpu_count() or 1)
HEAP = "6g"
SETUP_REPS = 3
# A traced run reads per-layer figures as medians over exactly this many
# rounds (the first also compiles each rung's plan), whatever --seconds is,
# so its operation count, and the share of them that fail, is fixed.
TRACED_ROUNDS = 3


def calibrate() -> float:
    """Seconds of a fixed pure-Python loop (best of 3): host speed, not program speed."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


class Run:
    """State of one benchmark run: session, work dir, tracer, and the
    accounting of operations, checks and set-up time."""

    def __init__(self, spark, args, work: str, tracer):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.unexpected_failures = 0
        self.t_first_op: float | None = None
        self.rounds = 0  # whole rounds of the timed loop
        self.loop_gc_s = 0.0  # JVM GC seconds over the timed loop
        self.loop_trace_s = 0.0  # tracer bookkeeping seconds over the timed loop
        self.loop_steal_pct = 0.0  # hypervisor steal, % of CPU time over the timed loop
        self.not_setup_s = 0.0  # time before the first op that is not set-up
        self.layer: dict[str, float] = {}
        self.op_times: list[float] = []  # wall time of each timed operation
        self.setup_times: list[float] = []  # each set-up round, for the log

    def setup_reps(self, build: Callable[[int], object]):
        """Run the workload's set-up round ``SETUP_REPS`` times
        (``build(rep)``) and count it once in ``setup_s``, at its median."""
        times, out = [], None
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            out = build(rep)
            times.append(time.perf_counter() - t)
        self.setup_times = times
        self.not_setup_s += sum(times) - statistics.median(times)
        return out

    def untimed(self, fn: Callable[[], object]):
        """Work before the first op that set-up must not include
        (computing expected outputs)."""
        t = time.perf_counter()
        out = fn()
        self.not_setup_s += time.perf_counter() - t
        return out

    def start_timing(self) -> None:
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()

    def op(self, ok: bool, known_fault: bool = False) -> None:
        """Account one operation whose check gave ``ok``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if not known_fault:
                self.unexpected_failures += 1

    def timed_loop(self, round_fn: Callable[[], None]) -> None:
        """Whole rounds until ``seconds`` have passed (at least one), or
        exactly ``TRACED_ROUNDS`` when traced."""
        gc0, trace0, cpu0 = jvm_gc_s(self.spark), self.tracer.bookkeeping_s, cpu_ticks()
        self.start_timing()
        t_end = time.perf_counter() + self.seconds

        def more() -> bool:
            if self.traced:
                return self.rounds < TRACED_ROUNDS
            return self.rounds < 1 or time.perf_counter() < t_end

        while more():
            round_fn()
            self.rounds += 1
        self.loop_gc_s += jvm_gc_s(self.spark) - gc0
        self.loop_trace_s += self.tracer.bookkeeping_s - trace0
        (steal1, total1), (steal0, total0) = cpu_ticks(), cpu0
        self.loop_steal_pct = 100 * (steal1 - steal0) / max(total1 - total0, 1)


def cpu_ticks() -> tuple[int, int]:
    """The host's (steal, total) CPU ticks so far, from /proc/stat: time
    the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def peak_rss_mb(spark) -> float:
    """Kernel high-water marks of the Spark JVM and this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + self_kb) / 1024


def start_spark(work: str):
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Keep every temporary file of Python, its workers and the JVM inside
    # the work directory.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    from fluent_plugin_record_reformer_spark.session import get_spark

    spark = get_spark("perfbench", cpus=SLOTS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "fluent_plugin_record_reformer_spark")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from spans import Tracer
    from workloads import E2E, PER_LAYER, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    calib_start = calibrate()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t_spark = time.perf_counter()
    spark = start_spark(work)
    t_workload = time.perf_counter()
    try:
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        run = Run(spark, args, work, Tracer(spark, run_id, bool(args.trace)))
        WORKLOADS[args.workload](run)
        rss = peak_rss_mb(spark)
        t_stop = time.perf_counter()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    t_end = time.perf_counter()

    if args.trace:
        unknown = set(run.layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(run.layer)
        values["spark.gc_s"] = run.loop_gc_s / run.rounds
        values["spark.peak_rss_mb"] = rss
        values["host.calib_s"] = (calib_start + calibrate()) / 2
        values["host.steal_pct"] = run.loop_steal_pct
        values["trace.overhead_s"] = run.loop_trace_s / run.rounds
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
        units = PER_LAYER
    else:
        values = {
            "setup_s": run.t_first_op - T_START - run.not_setup_s,
            "op_s": statistics.median(run.op_times),
        }
        units = E2E
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    result = {
        "correct": run.unexpected_failures == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(
        f"perfbench: {args.workload} host calib {calib_start:.4f} s, steal"
        f" {run.loop_steal_pct:.1f}% of CPU time in the timed loop; imports"
        f" {t_spark - T_START:.1f} s, spark start {t_workload - t_spark:.1f} s,"
        f" first op at {run.t_first_op - T_START:.1f} s, checks done {t_stop - T_START:.1f} s,"
        f" stopped {t_end - T_START:.1f} s; set-up rounds {[round(t, 2) for t in run.setup_times]};"
        f" op times {[round(t, 3) for t in run.op_times]}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
