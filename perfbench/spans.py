"""Tracing for the benchmark's traced run.

Spans are recorded in memory from the benchmark's own files, around
each call into a layer's public function (name, start, end, parent,
op id). Before each op the tracer sets a Spark job group; after the
op, outside its timing, it reads that group's jobs, stages and SQL
plan nodes from Spark's status stores (`statusTracker`,
`lastStageAttempt`, `executionMetrics`/`planGraph`), which are
populated with the Spark UI off.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")

# SQL node name prefixes whose "time to run Python workers" counts as
# Python/Arrow worker time
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
)


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric ('1,000', '2.1 s', or the
    'total (min, med, max ...)\\n95 ms (...)' form), in base units
    (rows, bytes, seconds)."""
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class OpStats:
    """What the status stores say about one op's job group."""

    jobs: int = 0
    build_jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    stage_union_s: float = 0.0
    input_rows: float = 0.0
    input_bytes: float = 0.0
    scan_tasks: int = 0
    shuffle_bytes: float = 0.0
    shuffle_records: float = 0.0
    spill_bytes: float = 0.0
    output_bytes: float = 0.0
    sink_s: float = 0.0
    nodes: dict = field(default_factory=lambda: defaultdict(float))
    job_starts: list = field(default_factory=list)


class Tracer:
    """Spans plus status-store reads. `enabled=False` makes every call
    a no-op, so the untraced run executes the same code path."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: dict[int, OpStats] = {}
        self.inline_s = 0.0  # tracer bookkeeping inside timed ops
        self.collect_s = 0.0  # status-store reads, outside timing
        self._stack: list[int] = []
        self._op = -1
        self._sql_seen = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        self.spans.append(Span(name, t0, t0, self._stack[-1] if self._stack else None, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def group(self, op: int, part: str) -> None:
        """Tag the Spark jobs that follow with this op's job group."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._op = op
        self.spark.sparkContext.setJobGroup(f"bench-{op}-{part}", f"bench op {op} {part}")
        self.inline_s += time.perf_counter() - t0

    def clear(self) -> None:
        if self.enabled:
            self.spark.sparkContext._jsc.clearJobGroup()
            self._op = -1

    def collect(self, op: int) -> OpStats:
        """Read op `op`'s jobs, stages and SQL nodes. Call after the op
        has finished, outside its timing."""
        if not self.enabled:
            return OpStats()
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        st = OpStats()
        job_ids: set[int] = set()
        intervals = []
        for part in ("build", "run"):
            ids = list(tracker.getJobIdsForGroup(f"bench-{op}-{part}"))
            job_ids.update(ids)
            if part == "build":
                st.build_jobs = len(ids)
        st.jobs = len(job_ids)
        for j in job_ids:
            info = tracker.getJobInfo(j)
            st.job_starts.append(_ms(store.job(j).submissionTime()))
            for sid in (info.stageIds if info else []):
                sd = store.lastStageAttempt(sid)
                start, end = _ms(sd.submissionTime()), _ms(sd.completionTime())
                if start is None:  # skipped stage: its output was reused
                    continue
                intervals.append((start, end or start))
                st.tasks += sd.numTasks()
                st.run_s += sd.executorRunTime() / 1e3
                st.cpu_s += sd.executorCpuTime() / 1e9
                if sd.inputBytes() > 0 or sd.inputRecords() > 0:
                    st.input_rows += sd.inputRecords()
                    st.input_bytes += sd.inputBytes()
                    st.scan_tasks += sd.numTasks()
                st.shuffle_bytes += sd.shuffleWriteBytes()
                st.shuffle_records += sd.shuffleWriteRecords()
                st.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.outputBytes() > 0:
                    st.output_bytes += sd.outputBytes()
                    st.sink_s += (end or start) - start
        st.stage_union_s = interval_union(intervals)
        self._read_sql(job_ids, st)
        self.ops[op] = st
        self.collect_s += time.perf_counter() - t0
        return st

    def _read_sql(self, job_ids: set[int], st: OpStats) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = int(sql.executionsCount())
        for e in _iter(sql.executionsList(self._sql_seen, n - self._sql_seen)):
            ejobs = {int(k) for k in _iter(e.jobs().keys())}
            if not ejobs & job_ids:
                continue
            vals = sql.executionMetrics(e.executionId())
            for node in _iter(sql.planGraph(e.executionId()).allNodes()):
                name = node.name()
                kind = _node_kind(name)
                if kind is None:
                    continue
                for m in _iter(node.metrics()):
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        st.nodes[f"{kind}:{m.name()}"] += parse_metric(str(v.get()))
        self._sql_seen = n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [vars(s) for s in self.spans]}, f)


def _node_kind(name: str) -> str | None:
    if name.startswith("Scan"):
        return "scan"
    if name.startswith("Exchange"):
        return "exchange"
    if "Aggregate" in name and "InPandas" not in name:
        return "agg"
    if name.startswith(PYTHON_NODES):
        return "python"
    if "InsertIntoHadoopFsRelation" in name:
        return "write"
    return None


def interval_union(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
