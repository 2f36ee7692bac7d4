#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

The session is pinned to the machine it runs on: local[<nproc>], shuffle
partitions = cores, and a driver memory of a quarter of RAM capped at
4 GB, all passed to ``get_spark`` and its environment variables. Every
file the run writes lives under the checkout (``.perfbench_work/`` while
it runs, then the span file under ``.perfbench_out/``).

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it is the full report: host labels, sample counts, the
failed share and every raw reading. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DOCS = 5000  # corpus size, the sf0.1 documents table


def host_settings() -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {
        "nproc": nproc,
        "cores": nproc,
        "shuffle_partitions": nproc,
        "driver_memory": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "ram_gb": round(ram_gb, 1),
    }


def configure_env(host: dict, work: str) -> None:
    """Environment read by get_spark, the JVM launcher and the Python
    workers; set before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_DRIVER_MEMORY"] = host["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def commit() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def source_digest() -> str:
    """sha256 over the library's Python sources: names the code version
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "vectorsearch_applications_spark")
    for dp, dirs, fs in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(fs):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dp, f), ROOT).encode())
                with open(os.path.join(dp, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def start_session(host: dict):
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from vectorsearch_applications_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=host["cores"],
        shuffle_partitions=host["shuffle_partitions"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def canaries(spark) -> tuple[float, float]:
    import bench

    return bench._canary(spark), bench._sched_canary(spark)


def measure(
    spark, args, work: str, session_s: float, docs: int = DOCS, max_ops: int | None = None
) -> dict:
    """Set up, warm up, run the timed window and check one workload on a
    running session; returns {"report", "contract"}. The smoke test
    shrinks ``docs`` and caps the window at ``max_ops`` operations."""
    tracer = None
    canary = []
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark).install()
        canaries(spark)  # untimed JIT warm-up of the canary jobs
        canary.append(canaries(spark))
    try:
        w = WORKLOADS[args.workload](spark, work, args.seed, docs, tracer)
        if tracer:
            with tracer.operation("setup", "setup", "setup"):
                w.setup()
        else:
            w.setup()
        window_s = w.run(args.seconds, max_ops)
        t0 = time.perf_counter()
        w.check()
        w.check_s = time.perf_counter() - t0
        if tracer:
            canary.append(canaries(spark))
        result = metrics.collect(w, session_s, window_s, tracer, canary)
    finally:
        if tracer:
            tracer.uninstall()
    if tracer:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    return result


def labels(args, host: dict) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "docs": DOCS,
        "commit": commit(),
        "source_sha256": source_digest(),
        "pyspark": pyspark.__version__,
        **host,
    }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    host = host_settings()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        configure_env(host, work)
        spark, session_s = start_session(host)
        try:
            result = measure(spark, args, work, session_s)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"report": labels(args, host) | result["report"]}))
    print(json.dumps(result["contract"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
