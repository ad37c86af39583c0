"""Turns a finished workload into the result line and the detail line."""

from __future__ import annotations

import math
import re
from collections import defaultdict

from measure import hd_median, tail
from spans import interval_union
from workloads import PIPELINE_JOBS

# layers the benchmark's spans wrap: the library modules it calls, and
# `engine` for the Spark action that executes a built plan
SPAN_LAYERS = ("plans", "api", "pipeline", "operators", "engine")

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "spark.local_cores": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_tasks": "count",
    "sources.scan_s": "s",
    "sources.rows_examined_per_row_returned": "ratio",
    "operators.python_worker_s": "s",
    "operators.python_rows": "count",
    "operators.exchange_bytes": "bytes",
    "operators.exchange_records": "count",
    "operators.agg_build_s": "s",
    "operators.spill_bytes": "bytes",
    "streaming.bytes_written": "bytes",
    "streaming.files_written": "count",
    "streaming.sink_s": "s",
    **{f"pipeline.step_s.{j}": "s" for j in PIPELINE_JOBS},
    **{f"pipeline.jobs_per_step.{j}": "count" for j in PIPELINE_JOBS},
    "pipeline.lake_bytes_per_input_byte": "ratio",
    "pipeline.read_gold_s": "s",
    "pipeline.read_gold_build_s": "s",
    "pipeline.read_gold_action_s": "s",
    "api.screen_s": "s",
    "api.screen_build_s": "s",
    "api.screen_action_s": "s",
    "operators.kmeans.index_build_s": "s",
    "operators.kmeans.probe_s": "s",
    "operators.kmeans.probe_build_s": "s",
    "operators.kmeans.probe_action_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.task_parallelism": "ratio",
    "driver.self_s": "s",
    **{f"self_s.{layer}": "s" for layer in SPAN_LAYERS},
    "trace.ops_per_s": "1/s",
    "trace.inline_overhead_s": "s",
    "trace.collect_s": "s",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _split(prefix: str, results) -> dict[str, float]:
    """Mean wall, build and action time of `results`."""
    rs = [r for r in results if not r.failed]
    return {
        f"{prefix}_s": _mean(r.wall for r in rs),
        f"{prefix}_build_s": _mean(r.build_s for r in rs),
        f"{prefix}_action_s": _mean(r.action_s for r in rs),
    }


def _pipeline_steps(wl, timed) -> dict[str, float]:
    """Per timed op: each step's wall from the run manifest the library
    writes (the steps inside the op's time window, see
    `NightlyPipeline.verify`), and the Spark jobs submitted inside
    it."""
    out = {k: 0.0 for k in PER_LAYER if k.startswith("pipeline.step_s.") or k.startswith("pipeline.jobs_per_step.")}
    n = 0
    for i, r in timed:
        if [s[0] for s in r.steps] != list(PIPELINE_JOBS):
            continue
        n += 1
        job_starts = wl.tracer.ops[i].job_starts if i in wl.tracer.ops else []
        for job, t0, t1, _, _ in r.steps:
            out[f"pipeline.step_s.{job}"] += t1 - t0
            out[f"pipeline.jobs_per_step.{job}"] += sum(1 for s in job_starts if s is not None and t0 <= s <= t1)
    return {k: v / n if n else 0.0 for k, v in out.items()}


def _self_times(tracer, ops: set[int], n: int) -> dict[str, float]:
    """Per op: each layer's span time minus what its child spans
    cover."""
    children = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = {f"self_s.{layer}": 0.0 for layer in SPAN_LAYERS}
    for i, s in enumerate(tracer.spans):
        if s.op not in ops:
            continue
        key = f"self_s.{s.name.split('.')[0]}"
        if key in out:
            out[key] += (s.end - s.start) - interval_union(children[i])
    return {k: v / n if n else 0.0 for k, v in out.items()}


def per_layer(wl, cpus: int, get_spark_s: float, region_s: float, peak_rss: int) -> dict[str, float]:
    tr = wl.tracer
    timed = [(i, r) for i, r in enumerate(wl.results) if not r.failed]
    stats = [tr.ops[i] for i, _ in timed if i in tr.ops]

    def mean(f):
        return _mean(f(s) for s in stats)

    # requests with a plan build: the timed ops, or on the nightly
    # workload the read_gold requests of its checks
    builds = [r for _, r in timed if r.build_s > 0] or wl.read_gold
    build_stats = [tr.ops[r.op] for r in builds if r.op in tr.ops]
    walls = sum(r.wall for _, r in timed)
    returned = sum(r.rows for _, r in timed)
    return {
        "memory.peak_rss_mb": peak_rss / 2**20,
        "session.get_spark_s": get_spark_s,
        "spark.local_cores": float(cpus),
        "plans.build_s": _mean(r.build_s for r in builds),
        "plans.build_jobs": _mean(s.build_jobs for s in build_stats),
        "sources.scan_rows": mean(lambda s: s.input_rows),
        "sources.scan_bytes": mean(lambda s: s.input_bytes),
        "sources.scan_tasks": mean(lambda s: s.scan_tasks),
        "sources.scan_s": mean(lambda s: s.nodes["scan:scan time"]),
        "sources.rows_examined_per_row_returned": (
            sum(s.input_rows for s in stats) / returned if returned else 0.0
        ),
        "operators.python_worker_s": mean(lambda s: s.nodes["python:time to run Python workers"]),
        "operators.python_rows": mean(lambda s: s.nodes["python:number of output rows"]),
        "operators.exchange_bytes": mean(lambda s: s.shuffle_bytes),
        "operators.exchange_records": mean(lambda s: s.shuffle_records),
        "operators.agg_build_s": mean(lambda s: s.nodes["agg:time in aggregation build"]),
        "operators.spill_bytes": mean(lambda s: s.spill_bytes),
        "streaming.bytes_written": mean(lambda s: s.output_bytes),
        "streaming.files_written": mean(lambda s: s.nodes["write:number of written files"]),
        "streaming.sink_s": mean(lambda s: s.sink_s),
        **_pipeline_steps(wl, timed),
        "pipeline.lake_bytes_per_input_byte": wl.lake_ratio() if hasattr(wl, "lake_ratio") else 0.0,
        "spark.jobs_per_op": mean(lambda s: s.jobs),
        "spark.tasks_per_op": mean(lambda s: s.tasks),
        "spark.executor_run_s": mean(lambda s: s.run_s),
        "spark.executor_cpu_s": mean(lambda s: s.cpu_s),
        "spark.task_parallelism": sum(s.run_s for s in stats) / walls if walls else 0.0,
        "driver.self_s": _mean(r.wall - tr.ops[i].stage_union_s for i, r in timed if i in tr.ops),
        **_self_times(tr, {i for i, _ in timed}, len(timed)),
        "trace.ops_per_s": len(timed) / region_s,
        "trace.inline_overhead_s": tr.inline_s / max(len(wl.results), 1),
        "trace.collect_s": tr.collect_s / max(len(wl.results), 1),
        **_split("pipeline.read_gold", wl.read_gold),
        **_split("api.screen", [r for _, r in timed if r.name == "api.screen"]),
        "operators.kmeans.index_build_s": getattr(wl, "index_build_s", 0.0),
        **_split("operators.kmeans.probe", [r for _, r in timed if r.name == "kmeans.ivf_pq_probe"]),
    }


def build(wl, args, *, cpus, parallelism, setup_s, get_spark_s, cold, region_s, peak_rss):
    """(result line, detail line) of a finished run."""
    ok = [r.wall for r in wl.results if not r.failed]
    failed = sum(r.failed for r in wl.results)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": cpus,
        "default_parallelism": parallelism,
        "input_bytes": wl.input_bytes,
        "samples": {"setup_s": 1, "cold_op_s": len(cold), "op_p50_s": len(ok), "ops_per_s": len(ok)},
        "failed_frac": failed / len(wl.results),
        "ops": [[r.name, round(r.wall, 4), r.failed] for r in wl.results],
        "errors": [r.error for r in wl.results if r.failed][:10],
    }
    t = tail(ok)
    detail["op_tail"] = {"percentile": t[0], "value_s": t[1], "n": len(ok)} if t else None
    if args.trace:
        metrics = per_layer(wl, cpus, get_spark_s, region_s, peak_rss)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_op_s": _mean(r.wall for r in cold),
            "op_p50_s": hd_median(ok) if ok else region_s,
            "ops_per_s": len(ok) / region_s,
        }
        units = END_TO_END
    metrics = {k: float(v) if math.isfinite(v) else 0.0 for k, v in metrics.items()}
    result = {
        "correct": failed == 0,
        "attempted": len(wl.results),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, detail
