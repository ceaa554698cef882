"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kafsql_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Each run starts its own Spark session
(`local[4]`), makes its inputs from `--seed` inside a fresh work directory
under perfbench/, checks every output, deletes the work directory and
prints two lines: every measured number by name, then, last, one JSON
object `{"correct", "attempted", "failed", "metrics"}` whose metrics are
the end-to-end metrics (`--trace 0`) or the per-layer ones (`--trace 1`).
A traced run also writes its spans to perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def _sentinels() -> dict[str, float]:
    """The repository's frozen, engine-free host-speed probes."""
    import bench

    return {"host.sentinel_s": bench.sentinel_sec(), "host.sentinel_mt_s": bench.sentinel_mt_sec()}


def _isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None


def _start_spark(work: str, trace: bool):
    from platform_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the status store must keep every job and stage of the run
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark("perfbench", master="local[4]", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


#: process-level numbers every run measures, reported per layer when traced
_PROCESS_METRICS = ("peak_rss_mb", "cpu_ms_per_op", "session.start_ms", "jvm.gc_ms")


def run(workload: str, seed: int, seconds: float, trace: bool, work: str):
    import stats
    import workloads
    from spans import JobCounter

    host_before = _sentinels() if trace else {}
    t0 = time.perf_counter()
    spark = _start_spark(work, trace)
    session_ms = (time.perf_counter() - t0) * 1000.0
    try:
        jobs = JobCounter(spark)
        ctx = workloads.Context(spark, work, seed, seconds, trace, jobs)
        res = workloads.WORKLOADS[workload](ctx)
        res.detail["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jobs.jvm_pid())
        res.detail["session.start_ms"] = session_ms
        res.detail["jvm.gc_ms"] = jobs.gc_ms()
    finally:
        _stop_spark(spark)
    if trace:
        host_after = _sentinels()
        res.per_layer.update({k: (v + host_after[k]) / 2.0 for k, v in host_before.items()})
        res.per_layer.update({k: res.detail[k] for k in _PROCESS_METRICS})
        res.per_layer["failed_ratio"] = stats.failed_ratio(res.attempted, res.failed)
        unknown = set(res.per_layer) - set(workloads.PER_LAYER)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        res.per_layer = {k: res.per_layer.get(k, 0.0) for k in workloads.PER_LAYER}
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    import platform_spark  # noqa: F401 - fail before any work if the program is missing

    work = os.path.join(HERE, f".work-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        if args.trace and res.tracer is not None:
            traces = os.path.join(HERE, "traces")
            os.makedirs(traces, exist_ok=True)
            res.tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res.per_layer if args.trace else res.end_to_end
    names = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    print(json.dumps({"detail": {**res.end_to_end, **res.detail, **res.per_layer}}))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, (u, _) in names.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
