"""Benchmark of japanstockdatapipeline_spark.

    python3 perfbench/run.py --workload {nightly_pipeline,analytics_batch} \
        --seed N --seconds S --trace {0,1}

Builds its inputs from the seed under `.bench_work/` in the repository
root (removed on exit), starts the library's Spark session on
local[N] with N = the usable cores, runs the workload (see
workloads.py) and checks its outputs. The last stdout line is one JSON
object: `correct`, `attempted`, `failed`, and `metrics`, which holds
the end-to-end metrics with `--trace 0` and the per-layer metrics with
`--trace 1`. The line before it is a JSON detail record (core count,
sample counts, tail percentile, per-op latencies, failures).

Exits non-zero without a result line when the library is not next to
this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "japanstockdatapipeline_spark"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, cpus: int) -> None:
    """Pin the core count, let Spark's Python workers import the
    library from any working directory, and keep every temporary file
    inside `work`. The driver heap is the library's own default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in path if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_DRIVER_MEM", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _library():
    """The library's public entry points the benchmark drives."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from japanstockdatapipeline_spark import api, pipeline, plans, session
    from japanstockdatapipeline_spark.operators import kmeans
    from japanstockdatapipeline_spark.sources import load_table
    from japanstockdatapipeline_spark.streaming import incremental

    return types.SimpleNamespace(
        api=api, pipeline=pipeline, plans=plans, session=session, kmeans=kmeans,
        load_table=load_table, incremental=incremental,
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it. When
    the gateway connection is broken (a signal arrived in mid-call),
    the JVM is terminated instead."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    except Exception:  # noqa: BLE001 - any gateway error: terminate below
        if proc is not None:
            proc.terminate()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import report
    from measure import PeakRss, cpu_jiffies
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, cpus)
    lib = _library()
    spark = None
    steal0, total0 = cpu_jiffies()
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = lib.session.get_spark("perfbench")
            get_spark_s = time.perf_counter() - t0
            tracer = Tracer(spark, enabled=bool(args.trace))
            wl = WORKLOADS[args.workload](lib, spark, tracer, args.seed, work)
            wl.stage(cpus)
            wl.prepare()
            t1 = time.perf_counter()
            setup_s = t1 - t0
            cold = wl.cold()
            wl.loop(args.seconds)
            region_s = time.perf_counter() - t1
            wl.verify()
            peak_rss = rss.peak
        result, detail = report.build(
            wl, args, cpus=cpus, parallelism=spark.sparkContext.defaultParallelism,
            setup_s=setup_s, get_spark_s=get_spark_s, cold=cold, region_s=region_s,
            peak_rss=peak_rss,
        )
        detail["peak_rss_parts_mb"] = {"jvm": rss.peak_jvm / 2**20, "python": rss.peak_python / 2**20}
        steal1, total1 = cpu_jiffies()
        detail["host_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        if args.trace:
            tracer.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
