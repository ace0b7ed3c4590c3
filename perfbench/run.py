"""Benchmark entry point.

    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds its inputs from --seed, sets up,
runs the workload's operations in a closed loop for --seconds, checks
every output against an oracle, and prints as its last line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is the full report (run configuration, input sizes, the
figures of every operation kind). Reports and span dumps are also
written to perfbench/_out/. Everything the run writes stays inside the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# explicit (the engine's default is 16g), and committed and touched up
# front so that peak RSS does not depend on how far the heap happened to
# grow (measured: 3.0-3.6 GB between seeds without pre-touching)
DRIVER_MEM = "2g"
FLOOR_PROBES = 3


class Run:
    """State of one benchmark run, handed to the workload function."""

    def __init__(self, spark, tracer, proc, work, seed, seconds, cores):
        self.spark, self.tracer, self.proc = spark, tracer, proc
        self.work, self.seed, self.seconds, self.cores = work, seed, seconds, cores
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.round_s = {True: [], False: []}   # traced / untraced rounds
        self.slot = 0   # which inputs the current round uses

    def check(self, reason: str | None, what: str) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.failures.append(f"{what}: {reason}")
            print(f"MISMATCH {what}: {reason}", file=sys.stderr, flush=True)

    def attempt(self, kind: str, op):
        """Call ``op`` and time it. It returns a thunk that checks its
        output, to be run outside the timed interval. A raise is a
        failed operation, timed until it raised."""
        t0 = time.perf_counter()
        try:
            verify = op()
        except Exception as e:  # noqa: BLE001 - a failed operation
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            self.check(f"raised {type(e).__name__}: {e}", kind)
            return dt, lambda: None
        return time.perf_counter() - t0, verify

    def loop(self, kinds: dict) -> dict[str, list[float]]:
        """Rounds of one call per kind, in order, until --seconds have
        passed. With tracing, rounds come in pairs, one traced and one
        untraced, that replay the same inputs (``self.slot``); which of
        the two runs first alternates with the seed. Only untraced calls
        are returned as samples; the round times of both give the
        tracing overhead."""
        samples: dict[str, list[float]] = {k: [] for k in kinds}
        deadline = time.perf_counter() + self.seconds
        traced = self.tracer.enabled
        n = 0
        while (n < 1 + traced or (traced and n % 2)
               or time.perf_counter() < deadline):
            on = traced and (n + self.seed) % 2 == 0
            self.slot = n // 2 if traced else n
            self.tracer.enabled = on
            t_round = time.perf_counter()
            with self.tracer.span("round", request=n):
                for kind, op in kinds.items():
                    dt, verify = self.attempt(kind, op)
                    verify()   # the oracle comparison is not timed
                    if not on:
                        samples[kind].append(dt)
            self.round_s[on].append(time.perf_counter() - t_round)
            self.proc.sample()
            n += 1
        self.tracer.enabled = traced
        return samples


def _configure_env(work: str, cores: int) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata under /tmp; JVM temp files inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        # keep every job of a run in the status store for the tracer
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _floor_ms(spark) -> list[float]:
    """Wall time of a trivial one-task job: the per-job floor, and a
    host-health bracket when taken at the start and end of a run."""
    out = []
    for _ in range(FLOOR_PROBES):
        t0 = time.perf_counter()
        spark.sparkContext.parallelize([0], 1).count()
        out.append((time.perf_counter() - t0) * 1000.0)
    return out


def _stop(spark, proc_counters) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()   # the gateway JVM exits on EOF
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    pids = [p for p in proc_counters.peak_kb if p != proc_counters.jvm_pid]
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        p for p in ("ir_base_spark/__init__.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"not a checkout of the engine: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics
    from perfbench.tracer import ProcCounters, SparkCounters, Span, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(HERE, "_work")
    shutil.rmtree(scratch, ignore_errors=True)   # left by a killed run
    work = os.path.join(scratch, f"{args.workload}-{args.seed}")
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    extra = _configure_env(work, cores)
    os.chdir(work)

    from ir_base_spark.session import get_spark

    prepare, workload = WORKLOADS[args.workload]
    pool = ThreadPoolExecutor(1)
    prepared = pool.submit(prepare, args.seed, work)
    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cores=cores,
        shuffle_partitions=cores, extra_conf=extra,
    )
    session_s = time.perf_counter() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    proc = ProcCounters(jvm_pid)
    try:
        if args.trace:
            tracer.spark = SparkCounters(spark)
            tracer.proc = proc
            tracer.spans.append(Span("session", 0.0, None, None, -1, end=session_s))
        prep = prepared.result()   # before the floor probes, which it would disturb
        floor_start = _floor_ms(spark)
        run = Run(spark, tracer, proc, work, args.seed, args.seconds, cores)
        res = workload(run, prep)
        floor_end = _floor_ms(spark)
        proc.sample()
        res["setup_s"] += session_s
        config = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "master": f"local[{cores}]", "cores": cores,
            "driver_mem": DRIVER_MEM, "local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "floor_ms_start": floor_start, "floor_ms_end": floor_end,
        }
        report = metrics.report(run, res, session_s, config)
        if args.trace:
            per_layer = metrics.per_layer(run, res, session_s, floor_start + floor_end)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            per_layer = None
    finally:
        tracer.enabled = False
        pool.shutdown()
        _stop(spark, proc)
        shutil.rmtree(work, ignore_errors=True)

    report["failures"] = run.failures[:20]
    if per_layer is not None:
        report["per_layer"] = per_layer
        shown = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        shown = {k: {"value": v, "unit": u} for k, (v, u) in report["end_to_end"].items()}
    with open(os.path.join(
        out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"
    ), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": shown,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
