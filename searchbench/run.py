#!/usr/bin/env python3
"""sparksearch benchmark: one closed-loop client drives the engine's public
build and query calls at ``local[<cores>]`` and checks every answer.

Run from the repository root:

    python3 searchbench/run.py --workload build_zipf --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer ones
(Spark event log on, spans around every public call). The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. See searchbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "op_p50_ms": "ms",
    "index_bytes_per_posting": "B/posting",
    "peak_rss_mb": "MB",
}


class Ctx:
    """Run-wide state handed to a workload."""

    def __init__(self, args, spark, work: str, cores: int):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = cores
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self._t0 = time.perf_counter()

    def mark(self, what: str) -> None:
        """Progress line on standard error: seconds since the session started."""
        print(f"searchbench: +{time.perf_counter() - self._t0:7.2f}s {what}",
              file=sys.stderr, flush=True)


def start_spark(work: str, cores: int, event_dir: str | None):
    import tempfile

    import host

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    heap = host.driver_heap()
    os.environ["SPARKSEARCH_DRIVER_MEM"] = heap
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed-size heap (initial = max) keeps build times steady: on a
        # 4-core host, build_zipf's docs_per_s spread (IQR/median, five
        # seeds) was 0.25 with a heap that grows on demand, 0.09 fixed.
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    from sparksearch.session import get_spark

    spark = get_spark("searchbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # Python workers import the engine from this zip, not from the working
    # directory, so the benchmark runs from anywhere.
    spark.sparkContext.addPyFile(
        shutil.make_archive(os.path.join(work, "sparksearch"), "zip", ROOT, "sparksearch"))
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM, and wait for every process this run
    started (JVM, Python worker daemon and workers) to end."""
    import host
    from pyspark import SparkContext

    kids = host.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the launcher JVM exits when its stdin closes
            proc.wait(timeout=60)
    host.reap(kids)


def versions(cores: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    import host

    return {
        "nproc": cores, "mem_total_gb": round(host.mem_total_bytes() / 2**30, 1),
        "driver_heap": host.driver_heap(), "python": platform.python_version(),
        "pyspark": pyspark.__version__, "pandas": pandas.__version__,
        "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("sparksearch/__init__.py", "tests/oracle_bm25.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"searchbench: {need} not found under {ROOT}; "
                  "run from a full checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    import host
    import workloads
    from spans import rollup_event_log

    runners = {"build_zipf": workloads.build_zipf, "ingest_mix": workloads.ingest_mix}
    if args.workload not in runners:
        print(f"searchbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(runners)}", file=sys.stderr)
        return 2

    cores = host.nproc()
    out_dir = os.path.join(ROOT, ".searchbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    event_dir = os.path.join(work, "events") if args.trace else None
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work, cores, event_dir)
            session_s = time.perf_counter() - t0
            ctx = Ctx(args, spark, work, cores)
            run = workloads.Run()
            try:
                runners[args.workload](ctx, run)
            except Exception:  # the workload stopped: one failed call
                traceback.print_exc()
                run.attempted += 1
                run.fail(f"{args.workload} stopped")
            finally:
                stop_spark(spark)
        run.setup_s += session_s
        if args.trace and run.finish is not None:
            run.finish(rollup_event_log(event_dir, run.tracer.spans))
            run.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                            {"layers": run.layers, "host": versions(cores)})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in workloads.LAYER_UNITS.items()}
    else:
        vals = {
            "setup_s": run.setup_s,
            "docs_per_s": workloads.median(run.docs_per_s),
            "op_p50_ms": workloads.median(run.op_ms),
            "index_bytes_per_posting": workloads.median(run.bytes_per_posting),
            "peak_rss_mb": rss.peak / 2**20,
        }
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in END_TO_END.items()}

    print(json.dumps({"host": versions(cores), "workload": args.workload, "seed": args.seed,
                      "op_ms": [round(x, 1) for x in run.op_ms],
                      "error_rate": run.failed / max(run.attempted, 1),
                      **run.notes}))
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
