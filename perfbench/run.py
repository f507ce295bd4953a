#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds everything it needs from the seed,
runs one workload on ``local[<nproc>]``, checks every answer, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (spans are also written to
``.perfbench_out/``). Exits non-zero if any check failed or the package
cannot be imported. All scratch data lives under ``.perfbench_tmp/`` in
the repository and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_OPTS = "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=128"  # session.py's default


def configure(scratch: str, driver_mem: str) -> None:
    """Environment for the session, set before the JVM starts.
    ``PYTHONPATH`` carries the package to Spark's Python workers: without
    it the first ``mapInPandas`` fails with ModuleNotFoundError when the
    script runs outside the repo root."""
    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        KESC_DRIVER_MEM=driver_mem,
        KESC_SPARK_LOCAL_DIR=os.path.join(scratch, "spark-local"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        KESC_DRIVER_JAVA_OPTS=f"{JVM_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and every Python worker it
    forked have exited (workers outlive the JVM briefly, reparented)."""
    from tracing import running, tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()  # late finalizers of JVM-backed objects then send nothing
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="1g", help="KESC_DRIVER_MEM for the session")
    args = ap.parse_args(argv)
    # the corpus generator overflows on seeds of 2**34 and up and numpy
    # rejects negative ones; every integer maps into [0, 2**32), small
    # seeds to themselves
    seed = args.seed % 2**32
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {kind: {m["name"]: m["unit"] for m in bench[kind]} for kind in ("end_to_end", "per_layer")}

    scratch = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{seed}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        configure(scratch, args.driver_mem)
        import tracing
        import workloads
        from kafka_elasticsearch_standalone_consumer_spark.session import get_spark

        with tracing.ProcSampler(os.getpid()) as sampler:
            spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
                },
            )
            try:
                run = workloads.Run(spark, scratch, seed, args.seconds, bool(args.trace), T_START, sampler)
                if run.tracer is not None:
                    workloads.install_tracing(run.tracer)
                e2e, layers = workloads.WORKLOADS[args.workload](run)
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run's scratch is still there

    if args.trace:
        run.tracer.dump(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{seed}.jsonl"))
        metrics = layers
    else:
        metrics = dict(e2e, peak_pss_mb=sampler.peak_pss / 2**20)
    units = declared["per_layer" if args.trace else "end_to_end"]
    if metrics.keys() != units.keys():
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(metrics.keys() ^ units.keys())}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
