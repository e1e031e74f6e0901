"""Layered benchmark of the exaloglog_paper_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload token_scan --seed 1 --seconds 10 --trace 0

Workloads: ``token_scan`` and ``near_dup`` (see workloads.py and
BENCHMARK.json). The load model is one driver process on
``local[nproc]``, closed loop: one operation at a time, each timed from
input to complete result. Inputs are generated from ``--seed`` under
``.perfbench_work/`` in the checkout; the engine reads only those files.

Every run checks every operation's output. The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. The line before it is a JSON report with the per-operation
figures, the box stamp and, when tracing, the per-operation layer breakdown.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A quarter of physical memory, between 1 and 8 GB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(1024, min(8192, total // 4))


def configure_env(trace: bool) -> None:
    """Size the session to the box and keep every file inside the checkout.
    ``session.get_spark`` reads SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(WORK, "events")
        shutil.rmtree(events, ignore_errors=True)
        os.makedirs(events)
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{events}",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_DRIVER_MEM=f"{driver_mem_mb()}m",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # no hsperfdata under /tmp
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    import tempfile

    tempfile.tempdir = tmp


def process_tree(root: int) -> list[int]:
    """``root`` and the pid of every process under it."""
    children = defaultdict(list)
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                children[int(f.read().rsplit(")", 1)[1].split()[1])].append(int(p))
        except OSError:  # exited while listing
            continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children, so work done
    by a worker that has exited still counts) used so far by this process,
    the JVM and its Python workers."""
    hz, total = os.sysconf("SC_CLK_TCK"), 0
    for p in process_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return total / hz


def box_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs of the box since boot: steal is
    time a virtual CPU was ready to run but the host ran something else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def tree_peak_rss_mb(root: int) -> float:
    """Sum over ``root`` and every process under it of its own peak resident
    memory (VmHWM): an upper bound of the tree's peak, read once, so no
    sampler competes with the measured work."""
    total_kb = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024


class Ctx:
    """Times operations and counts failures; when tracing, the instances of
    each operation alternate untraced and traced."""

    def __init__(self, spark, tracer, trace: bool, min_rounds: int = 1, repeat: int = 1) -> None:
        self.spark, self.tracer, self.trace, self.work = spark, tracer, trace, WORK
        self.min_rounds, self.repeat = min_rounds, repeat
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu_samples: dict[str, list[float]] = defaultdict(list)
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.layer_samples: dict[str, list[float]] = defaultdict(list)
        self._started: dict[str, int] = defaultdict(int)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.tracing_now = False

    def count(self, name: str) -> int:
        return self._started[name]

    def op(self, name: str, fn) -> None:
        n = self._started[name]
        self._started[name] += 1
        self.tracing_now = self.trace and n % 2 == 1
        self.tracer.enabled = self.tracing_now
        ok = False
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with self.tracer.span(name, "driver", op=f"{name}#{n}"):
                ok = bool(fn())
        except Exception:
            traceback.print_exc(file=sys.stderr)
        dt, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        if self.tracing_now:
            self.traced_samples[name].append(dt)
        else:
            self.samples[name].append(dt)
            self.cpu_samples[name].append(cpu)
        self.tracer.enabled = self.tracing_now = False
        self.check(f"{name}#{n}", ok)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)
            print(f"perfbench: output check failed: {name}", file=sys.stderr)

    def action(self, name: str, thunk):
        with self.tracer.span(name, "spark"):
            return thunk()

    def layer_sample(self, name: str, value: float) -> None:
        self.layer_samples[name].append(float(value))

    def rounds(self, ops, fns, seconds: float, before_round=None) -> None:
        """The operations in turn, each ``repeat`` times in a row, round
        after round, for ``seconds`` and at least ``min_rounds`` rounds;
        every round completes. ``before_round`` (untimed) readies each
        round's inputs."""
        t_end = time.perf_counter() + seconds
        r = 0
        while r < self.min_rounds or time.perf_counter() < t_end:
            if before_round is not None:
                before_round()
            for op in ops:
                for _ in range(self.repeat):
                    self.op(op, fns[op])
            r += 1

    def median(self, name: str, cpu: bool = False):
        s = (self.cpu_samples if cpu else self.samples).get(name)
        return statistics.median(s) if s else None


def box_stamp() -> dict:
    """Speed of this box when the run started: informational, not a gate.
    The probes are bench.py's, the parallel one with ``nproc`` workers."""
    import numpy
    import pyspark

    import bench

    par = bench.calibrate_parallel_ratio(workers=cpus())
    single = par["single_ns"]
    with open(os.path.join(HERE, "calibration.json")) as f:
        ref = json.load(f)
    return {
        "cpus": cpus(),
        "driver_heap_mb": driver_mem_mb(),
        "single_ns_per_el": single,
        "parallel": par,
        "quiet_box_single_ns_per_el": ref["single_ns_per_el"],
        "slowdown_vs_quiet_box": round(single / ref["single_ns_per_el"], 3),
        "versions": {
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "numpy": numpy.__version__,
            "java": java_version(),
        },
    }


def java_version() -> str:
    import subprocess

    out = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    return next((line for line in out if "version" in line), "unknown")


def set_up(warmup, tracer) -> tuple:
    """The set-up ``setup_s`` times: start the session, then run one round
    of the workload's own operations on its tiny inputs (Python workers
    started, query plans compiled, caches filled). Returns (spark, session
    start seconds, set-up seconds, the round's Ctx)."""
    from exaloglog_paper_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    started = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    ctx = Ctx(spark, tracer, False, min_rounds=1)
    warmup.measure(ctx, 0)
    return spark, started, time.perf_counter() - t0, ctx


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def become_subreaper() -> None:
    """Adopt every orphaned descendant (a Python worker that outlives its
    JVM, say), so that ``stop_descendants`` can stop it and wait for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap() -> None:
    """Wait for every child that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this run started (multiprocessing's resource
    tracker too), SIGTERM first and SIGKILL after ``grace_s``, and wait
    until each has exited."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    me, deadline, sig = os.getpid(), time.monotonic() + grace_s, signal.SIGTERM
    signalled: set[int] = set()
    while True:
        _reap()
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, signalled = signal.SIGKILL, set()
        for p in left:
            if p not in signalled:
                signalled.add(p)
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def kernel_probe(workload, rounds: int = 5) -> dict:
    """L0 from outside: the numpy kernel over a sample of the workload's own
    elements (tokens, or the words of the documents), hashed as the engine
    hashes them."""
    import numpy as np
    import pyarrow.parquet as pq

    from exaloglog_paper_spark.ops.agg import ExaLogLogSpec
    from exaloglog_paper_spark.sketchlib.bitops import splitmix64

    spec = ExaLogLogSpec(2, 20, 10)
    path = workload.path
    first = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
    table = pq.read_table(os.path.join(path, first))
    if "tokens" in table.column_names:
        values = table.column("tokens").combine_chunks().values.to_numpy().astype(np.int64)
    else:
        words = " ".join(table.column("text").to_pylist()).split()
        values = np.unique(words, return_inverse=True)[1].astype(np.int64)
    hashes = splitmix64(values[:2_000_000].view(np.uint64))
    parts = np.array_split(hashes, 16)

    def best(fn):
        b = math.inf
        for _ in range(rounds):
            t0 = time.perf_counter()
            fn()
            b = min(b, time.perf_counter() - t0)
        return b

    states = [spec.add(spec.empty(), p) for p in parts]
    blobs = [spec.serialize(s) for s in states]
    return {
        "sketchlib.insert_ns_per_el": best(lambda: spec.add(spec.empty(), hashes)) / len(hashes) * 1e9,
        "sketchlib.serialize_us": best(lambda: [spec.serialize(s) for s in states]) / len(states) * 1e6,
        "sketchlib.merge_many_us": best(lambda: spec.merge_many(states)) * 1e6,
        "sketchlib.estimate_us": best(lambda: spec.finalize_batch(blobs)) / len(blobs) * 1e6,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "exaloglog_paper_spark")):
        print("perfbench: run from the root of an exaloglog_paper_spark checkout", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    configure_env(trace)
    sys.path[:0] = [ROOT, HERE]

    import multiprocessing as mp
    from concurrent.futures import ProcessPoolExecutor

    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload](args.scale)
    warmup = WORKLOADS[args.workload]("tiny")
    tracer = Tracer()
    # inputs are cached per seed; those of other seeds are dropped so the
    # work dir stays small over many runs
    inputs_root = os.path.join(WORK, "inputs")
    input_dir = os.path.join(inputs_root, f"seed-{args.seed}")
    for d in os.listdir(inputs_root) if os.path.isdir(inputs_root) else []:
        if os.path.join(inputs_root, d) != input_dir:
            shutil.rmtree(os.path.join(inputs_root, d))
    with ProcessPoolExecutor(max_workers=cpus(), mp_context=mp.get_context("spawn")) as pool:
        truth = workload.prepare(pool, input_dir, args.seed)
        warmup.prepare(pool, input_dir, args.seed)
    stamp = box_stamp()

    if trace:
        tracer.instrument()
    try:
        spark, session_start_s, setup_s, warm_ctx = set_up(warmup, tracer)
        from pyspark import SparkContext

        # rounds until --seconds have passed, and at least the workload's
        # minimum (when tracing, at least one untraced and one traced
        # instance of each operation)
        ctx = Ctx(spark, tracer, trace, min_rounds=workload.min_rounds, repeat=workload.repeat)
        if trace:
            layers.register_observers(tracer, ctx)
        steal0, total0 = box_cpu_ticks()
        t0 = time.perf_counter()
        workload.measure(ctx, args.seconds)
        measured_s = time.perf_counter() - t0
        steal1, total1 = box_cpu_ticks()
        stamp["steal_frac_while_measuring"] = (steal1 - steal0) / max(total1 - total0, 1)
        if trace:
            tracer.collect_job_info()
        peak_rss_mb = tree_peak_rss_mb(SparkContext._gateway.proc.pid)
    finally:
        stop_jvm()

    attempted, failed = warm_ctx.attempted + ctx.attempted, warm_ctx.failed + ctx.failed
    ok = failed == 0
    report = {
        "workload": workload.name,
        "seed": args.seed,
        "scale": args.scale,
        "seconds": args.seconds,
        "measured_s": measured_s,
        "peak_rss_mb": peak_rss_mb,
        "operations": {k: {"value": v, "unit": u} for k, (v, u) in workload.details(ctx).items()},
        "samples": dict(ctx.samples),
        "cpu_samples": dict(ctx.cpu_samples),
        "failed_ops": failed / attempted,
        "failures": warm_ctx.failures + ctx.failures,
        "setup": {"setup_s": setup_s, "session_start_s": session_start_s},
        "stamp": stamp,
    }
    if trace:
        tracer.collect_event_log(os.path.join(WORK, "events"))
        per_layer, breakdown = layers.per_layer(tracer, ctx, workload, cpus())
        per_layer.update(kernel_probe(workload))
        per_layer["session.start_s"] = session_start_s
        per_layer["inputs.generate_s"] = truth["generate_s"]
        per_layer["spark.peak_rss_mb"] = peak_rss_mb
        report["layer_breakdown"] = breakdown
        metrics = {name: {"value": per_layer[name], "unit": unit} for name, unit in layers.UNITS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "round_wall_s": {"value": sum(ctx.median(op) for op in workload.ops), "unit": "s"},
            "round_cpu_s": {"value": sum(ctx.median(op, cpu=True) for op in workload.ops), "unit": "s"},
        }
    print(json.dumps(report, default=float))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    become_subreaper()
    # a SIGTERM unwinds like an error, so the clean-up below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        code = main()
    finally:
        stop_descendants()
    sys.exit(code)
