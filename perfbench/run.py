"""Benchmark for the forecast engine: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload forecast_service --seed 1 --seconds 12 --trace 0

Run it from the repository root.  ``--trace 0`` measures the end-to-end
metrics with no hooks installed; ``--trace 1`` is a separate run that
records spans and Spark counters and prints the per-layer metrics.  The
last line of standard output is the result object; see README.md in
this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

WORKLOADS = ("forecast_service", "batch_pipeline")
PACKAGE = "qrapids_forecast_r_script_spark"
# The set-up is repeated this many times per run and its median reported,
# so one slow SparkContext start does not decide setup_s.
SETUP_REPS = 3
# Name prefixes of the JVM's own JIT-compiler and garbage-collector threads.
HOTSPOT_THREADS = ("C1 Compiler", "C2 Compiler", "GC Thread", "G1 ", "VM Thread",
                   "Sweeper")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and size Spark and
    the numeric libraries to the cores the process may use, without
    oversubscription: Spark runs ``cores`` Python workers, each
    single-threaded."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    n = str(cores())
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Spark's Python workers import the engine by name; without the
        # root on their path applyInPandas fails outside the repo root.
        "PYTHONPATH": os.pathsep.join([root] + paths),
        "SPARK_GRAFT_CPUS": n,
        "SPARK_GRAFT_SHUFFLE": n,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options -Djava.io.tmpdir={tmp} "
                                f"--conf spark.sql.warehouse.dir={work}/warehouse "
                                "--conf spark.ui.showConsoleProgress=false "
                                "pyspark-shell"),
    })
    sys.path.insert(0, root)


class Context:
    """What a workload needs: its arguments, a private work directory,
    the tracer and the current SparkSession."""

    def __init__(self, args, work: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.cores = cores()
        self.spark = None

    def pin_one_cpu(self) -> None:
        """Move the request path onto one CPU the process may use: every
        thread of this process, and every JVM thread except HotSpot's
        compiler and collector threads, which stay on every CPU as on any
        multi-core server (pinned, they would take the requests' CPU).
        Threads started later inherit their creator's CPUs.  Set-up runs
        before this on every core, so the JVM starts at full speed."""
        from pyspark import SparkContext
        cpu = {min(os.sched_getaffinity(0))}
        jvm = SparkContext._gateway.proc.pid
        for pid in (os.getpid(), jvm):
            for tid in os.listdir(f"/proc/{pid}/task"):
                with contextlib.suppress(FileNotFoundError, ProcessLookupError):  # ended
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        if pid == jvm and f.read().startswith(HOTSPOT_THREADS):
                            continue
                    os.sched_setaffinity(int(tid), cpu)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and the Python workers it
        forked) to exit: the JVM ends when its stdin pipe closes."""
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def new_session(self):
        from qrapids_forecast_r_script_spark import session
        if self.spark is not None:
            self.spark.stop()
        self.spark = session.get_spark("perfbench", shuffle_partitions=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def timed_setup(self, build):
        """Run ``build(spark)`` on a fresh SparkContext ``SETUP_REPS``
        times; return the last state and the median set-up seconds.  The
        JVM itself starts once per run, before the first repetition."""
        times, state = [], None
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.tracer.span("session.setup"):
                state = build(self.new_session())
            times.append(time.perf_counter() - t0)
        return state, statistics.median(times)

    @staticmethod
    def latency_metrics(setup_s: float, latency_s: float, throughput: float) -> dict:
        """The end-to-end metrics: set-up, the operation latency the user
        waits for (each workload says which) and operations completed per
        second."""
        return {"setup_s": (setup_s, "s"),
                "latency_ms": (latency_s * 1e3, "ms"),
                "throughput_per_s": (throughput, "1/s")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(root, work)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)

    import importlib
    from spans import Tracer
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args, work, tracer)
    try:
        out = importlib.import_module(args.workload).run(ctx)
    finally:
        tracer.unwrap_all()
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))

    metrics = out["e2e"]
    if args.trace:
        # The traced run's own throughput: its ratio to the untraced
        # run's is the tracing overhead.
        metrics = {**out["layers"],
                   "trace.throughput_per_s": out["e2e"]["throughput_per_s"]}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
