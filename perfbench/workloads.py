"""The benchmark's workloads.

Each workload stages its seeded inputs, times its cold ops (the first
call of each op in the process), then runs whole passes of ops in a
closed loop (one client) until `seconds` have passed, and checks every
output outside the timed region.

- `nightly_pipeline`: one op is one `pipeline.run_daily_pipeline`
  call into a fresh lake, over a seeded run-date sequence (a start
  day, a same-date re-run, an older backfill date, then consecutive
  days). The write side: silver overwrite, publishing the three gold
  tables with `publish_version`, and read-back counts.
- `analytics_batch`: one op is one entry of `ANALYTICS_OPS`: a
  registry query collected as Arrow (every column of every row is
  computed, no `.count()` collapse, and the timed rows are the ones
  checked), an `api.screen` request, or an `ivf_pq_probe` of a small
  query batch against an index built in set-up. The read side: scan,
  Python/Arrow worker, Exchange, aggregate/window, and the serving
  requests.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from measure import row_key, table_hash
from spans import Tracer

# Registry queries, written out so the list does not follow the
# `bench` flag. Started from the bench=True entries; left out:
# `event_indicator_fused_jvm` and `user_technical_snapshot`, whose DuckDB
# oracles take 53 s at 10k events and over 30 s at 100k events on 4
# cores, and `embedding_knn_topk` and `rolling_event_stats`, to keep
# one pass near 25 s.
ANALYTICS_QUERIES = (
    "pricing_summary",
    "revenue_by_nation",
    "purchase_asof_click",
    "doc_text_stats",
    "doc_ngram_jaccard_dups",
    "doc_features_fused",
    "corpus_prep_fused",
)
ANALYTICS_OPS = ANALYTICS_QUERIES + ("api.screen", "kmeans.ivf_pq_probe")
PROBE_K = 5  # neighbours per query of an ivf_pq_probe op
PIPELINE_JOBS = ("silver_events", "gold_snapshot", "gold_market_indicators", "gold_stock_screen")
GOLD_JOBS = PIPELINE_JOBS[1:]  # each publishes gold/<job without "gold_">
PIPELINE_INPUTS = ("events", "orders", "customer")  # what run_daily_pipeline reads


class OpResult:
    """One timed op: its latency, rows returned, and what is needed to
    check it afterwards."""

    def __init__(self, name: str, wall: float, rows: int, check=None):
        self.name, self.wall, self.rows, self.check = name, wall, rows, check
        self.op = -1
        self.start = self.end = 0.0  # epoch seconds, to match the run manifest
        self.steps: list[tuple] = []  # pipeline steps run inside the op
        self.build_s = 0.0
        self.action_s = 0.0
        self.failed = False
        self.error = ""


class Workload:
    """Shared set-up and op loop. Subclasses define `op(i)` and
    `verify`, and may override `prepare`."""

    name = ""
    SCALE = 1.0  # row counts relative to sf0.1
    TABLES = None  # tables to stage; None stages all
    PASS = 1  # ops per timed pass
    COLD = 1  # cold ops timed before the loop

    def __init__(self, lib, spark, tracer: Tracer, seed: int, work: str):
        self.lib, self.spark, self.tracer, self.seed = lib, spark, tracer, seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.input_bytes: dict[str, int] = {}
        self.results: list[OpResult] = []
        self.read_gold: list[OpResult] = []  # read_gold requests timed in the checks

    def stage(self, cpus: int) -> None:
        self.input_bytes = gen.write_inputs(
            self.seed, self.inputs, scale=self.SCALE, names=self.TABLES, doc_row_groups=cpus
        )

    def prepare(self) -> None:
        pass

    def timed(self, i: int, name: str, layer: str, build, action) -> OpResult:
        """Run one op as build (plan construction, a span named after the
        library call) then action (Spark execution), each under its own
        job group."""
        tr = self.tracer
        tr.group(i, "build")
        t0 = time.perf_counter()
        with tr.span(layer):
            plan = build()
        t1 = time.perf_counter()
        tr.group(i, "run")
        with tr.span("engine.action"):
            rows, check = action(plan)
        t2 = time.perf_counter()
        tr.clear()
        r = OpResult(name, t2 - t0, rows, check)
        r.op, r.build_s, r.action_s = i, t1 - t0, t2 - t1
        return r

    def run_op(self, i: int) -> OpResult:
        start = time.time()
        t0 = time.perf_counter()
        try:
            r = self.op(i)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.tracer.clear()
            r = OpResult(self.op_name(i), time.perf_counter() - t0, 0)
            r.failed, r.error = True, f"{type(e).__name__}: {e}"[:300]
        r.op, r.start, r.end = i, start, time.time()
        self.tracer.collect(i)
        self.results.append(r)
        return r

    def cold(self) -> list[OpResult]:
        """The first `COLD` ops after set-up, each the first call of its
        kind in this process."""
        return [self.run_op(i) for i in range(self.COLD)]

    def loop(self, seconds: float) -> None:
        """Closed loop after the cold ops: whole passes of `PASS` ops,
        at least one, until `seconds` have passed. With `seconds`
        shorter than a pass every run times the same ops."""
        t0 = time.perf_counter()
        start = i = len(self.results)
        while True:
            self.run_op(i)
            i += 1
            if (i - start) % self.PASS == 0 and time.perf_counter() - t0 >= seconds:
                return

    def op_name(self, i: int) -> str:
        return self.name


class NightlyPipeline(Workload):
    name = "nightly_pipeline"
    MAX_OPS = 64
    TABLES = PIPELINE_INPUTS
    # the first pass is a same-date re-run and a backfill, later passes
    # are consecutive days; every call reads the whole input, so each
    # pass does the same work. Two calls keep a run near 60-80 s.
    PASS = 2

    def prepare(self) -> None:
        self.lake = os.path.join(self.work, "lake")
        self.dates = gen.run_dates(self.seed, self.MAX_OPS)
        self.lake_bytes_first = 0

    def op(self, i: int) -> OpResult:
        run = self.lib.pipeline.run_daily_pipeline
        date = self.dates[i]
        self.tracer.group(i, "run")
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.run_daily_pipeline"):
            counts = run(self.spark, self.inputs, self.lake, date)
        wall = time.perf_counter() - t0
        self.tracer.clear()
        if i == 0:
            self.lake_bytes_first = _tree_bytes(self.lake)
        r = OpResult(self.name, wall, sum(counts.values()), (date, counts))
        r.action_s = wall
        return r

    def verify(self) -> None:
        """Gold row counts, the `_LATEST` version sequence (a backfill
        date must not flip it) and `read_gold` freshness. Each op owns
        the run-manifest steps that ran inside its time window, and a
        gold table's expected version follows the publishes that
        succeeded, so one failed op does not shift the checks of the
        ops after it."""
        inc = self.lib.incremental
        con = _duck(self.inputs)
        expect = {
            "silver_events": con.execute("SELECT count(*) FROM events").fetchone()[0],
            "gold_snapshot": con.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0],
            "gold_market_indicators": con.execute(
                "SELECT count(DISTINCT CAST(ts AS DATE)) FROM events"
            ).fetchone()[0],
            "gold_stock_screen": con.execute("SELECT count(*) FROM customer").fetchone()[0],
        }
        steps = manifest_steps(os.path.join(self.lake, "ops", "runs.jsonl"))
        served = expected_serving(self.results, steps)
        for r in self.results:
            if not r.failed and r.check[1] != expect:
                _fail(r, f"counts {r.check[1]} != {expect}")
        last = self.results[-1]
        for i, job in enumerate(GOLD_JOBS):
            if job not in served:
                continue
            table, (as_of, version), n = job.removeprefix("gold_"), served[job], expect[job]
            got_v = inc.latest_version(self.spark, os.path.join(self.lake, "gold", table))
            if got_v != version:
                _fail(last, f"{table}: _LATEST v={got_v}, expected v={version}")
            op = 1000 + i
            r = self.timed(
                op,
                "pipeline.read_gold",
                "pipeline.read_gold",
                lambda: self.lib.pipeline.read_gold(self.spark, self.lake, table, as_of=as_of),
                lambda df: _collect_rows(df.limit(20)),
            )
            self.tracer.collect(op)
            self.read_gold.append(r)
            df = self.lib.pipeline.read_gold(self.spark, self.lake, table, as_of=as_of)
            total, got_as_of = df.agg(F.count("*"), F.max("as_of")).first()
            if r.rows != min(20, n) or total != n or got_as_of != as_of:
                _fail(last, f"read_gold {table}: {total} rows as_of {got_as_of}, expected {n} as_of {as_of}")
            try:
                self.lib.pipeline.read_gold(
                    self.spark, self.lake, table, as_of=as_of + dt.timedelta(days=6)
                )
                _fail(last, f"read_gold {table}: stale snapshot served")
            except inc.FreshnessError:
                pass

    def lake_ratio(self) -> float:
        read = sum(self.input_bytes[t] for t in PIPELINE_INPUTS)
        return self.lake_bytes_first / read


class AnalyticsBatch(Workload):
    name = "analytics_batch"
    PASS = len(ANALYTICS_OPS)
    # the cold ops are a whole pass: each query, screen and probe pays
    # its own first-call cost (plan code generation, JIT, Python worker
    # imports), so the cold figure is the mean over all of them
    COLD = PASS

    def prepare(self) -> None:
        lib, spark = self.lib, self.spark
        with self.tracer.span("api.register_views"):
            lib.api.register_views(spark, self.inputs)
        self.queries = {**lib.plans.all_queries(), **lib.plans.all_members()}
        self.screens = gen.screen_requests(self.seed, 4096)
        self.probes = gen.probe_batches(self.seed, 4096)
        self.emb = lib.load_table(spark, self.inputs, "embeddings")
        # one persisted IVF-PQ index; a small dial (one training round),
        # as the first build in a fresh JVM mostly pays warm-up
        t0 = time.perf_counter()
        with self.tracer.span("operators.kmeans.ivf_pq_build"):
            index, cents = lib.kmeans.ivf_pq_build(
                self.emb, k_coarse=8, m=8, k_cells=16, iters=1,
                coarse_assign="blas", pq_assign="blas",
            )
            self.index, self.cents = index.persist(), cents.persist()
            self.index.count()
            self.cents.count()
        self.index_build_s = time.perf_counter() - t0

    def op_name(self, i: int) -> str:
        return ANALYTICS_OPS[i % len(ANALYTICS_OPS)]

    def op(self, i: int) -> OpResult:
        name = self.op_name(i)
        spark, lib = self.spark, self.lib
        k = i // len(ANALYTICS_OPS)
        if name == "api.screen":
            req = self.screens[k]
            r = self.timed(i, name, name, lambda: lib.api.screen(spark, **req), _collect_rows)
            r.check = (req, r.check)
            return r
        if name == "kmeans.ivf_pq_probe":
            ids = self.probes[k]
            r = self.timed(i, name, "operators.kmeans.ivf_pq_probe", lambda: self._probe(ids), _collect_rows)
            r.check = (ids, r.check)
            return r
        q = self.queries[name]
        r = self.timed(i, name, f"plans.{name}", lambda: q.fn(spark, self.inputs), _to_arrow)
        r.check = table_hash(r.check)
        return r

    def _probe(self, ids: list[int]):
        queries = self.emb.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return self.lib.kmeans.ivf_pq_probe(
            self.index, self.cents, queries, self.emb, k=PROBE_K, candidates=20, n_probe=2
        )

    def verify(self) -> None:
        """Registry queries: the order-independent hash of each op's
        result against the DuckDB oracle on the same inputs. Screens:
        against a DuckDB recomputation of the same filter. Probes:
        against cosines recomputed with numpy."""
        con = _duck(self.inputs)
        oracle: dict[str, str] = {}
        vectors = None
        for r in self.results:
            if r.failed:
                continue
            if r.name == "api.screen":
                error = _screen_error(con, *r.check)
                if error:
                    _fail(r, error)
            elif r.name == "kmeans.ivf_pq_probe":
                if vectors is None:
                    vectors = _embeddings(self.inputs)
                error = _probe_error(vectors, *r.check)
                if error:
                    _fail(r, error)
            else:
                if r.name not in oracle:
                    oracle[r.name] = table_hash(con.execute(self.queries[r.name].oracle).arrow())
                if r.check != oracle[r.name]:
                    _fail(r, f"{r.name}: result hash differs from the DuckDB oracle")


WORKLOADS = {w.name: w for w in (NightlyPipeline, AnalyticsBatch)}


def _to_arrow(df):
    t = df.toArrow()
    return t.num_rows, t


def _collect_rows(df):
    rows = [tuple(x) for x in df.collect()]
    return len(rows), rows


def _embeddings(inputs: str) -> np.ndarray:
    """Unit-normalised embedding vectors, row i = vec_id i."""
    t = pq.read_table(os.path.join(inputs, "embeddings.parquet"), columns=["vec_id", "embedding"])
    v = np.array(t.column("embedding").to_pylist(), np.float64)[np.argsort(t.column("vec_id").to_numpy())]
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _probe_error(vectors: np.ndarray, ids: list[int], rows) -> str:
    """Each query gets `PROBE_K` distinct neighbours other than itself,
    ranked 1..k by descending cosine, and each cosine is the true one
    to 6 decimals."""
    got: dict[int, list] = {}
    for q, nb, cos, rank in rows:
        got.setdefault(q, []).append((rank, nb, cos))
    if sorted(got) != sorted(ids):
        return f"probe {ids}: answered queries {sorted(got)}"
    for q, hits in got.items():
        hits.sort()
        nbs = [nb for _, nb, _ in hits]
        coss = [cos for _, _, cos in hits]
        if [rank for rank, _, _ in hits] != list(range(1, PROBE_K + 1)) or len(set(nbs)) != PROBE_K or q in nbs:
            return f"probe query {q}: ranks/neighbours {hits}"
        if coss != sorted(coss, reverse=True):
            return f"probe query {q}: cosines not descending {coss}"
        true = vectors[nbs] @ vectors[q]
        if np.max(np.abs(true - np.array(coss))) > 2e-6:
            return f"probe query {q}: cosines {coss} differ from {true.round(6).tolist()}"
    return ""


def _screen_error(con, req: dict, rows) -> str:
    """Tie-aware check of one screen result: every row is the view's row
    for its key and passes the filter, and the sequence of sort-key
    values equals DuckDB's top `limit`."""
    cols = [
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal",
        "latest_orderkey", "latest_price", "latest_orderdate",
    ]
    view = {r[0]: r for r in con.execute(
        f"SELECT {', '.join(cols)} FROM customer_screen "
        "WHERE c_mktsegment = ? AND c_acctbal >= ?",
        [req["segment"], req["min_acctbal"]],
    ).fetchall()}
    key = cols.index(req["order_by"])
    desc = "DESC" if req["descending"] else "ASC"
    want = [r[0] for r in con.execute(
        f"SELECT {req['order_by']} FROM customer_screen "
        "WHERE c_mktsegment = ? AND c_acctbal >= ? "
        f"ORDER BY {req['order_by']} {desc} NULLS LAST LIMIT ?",
        [req["segment"], req["min_acctbal"], max(1, min(req["limit"], 1000))],
    ).fetchall()]
    if [r[key] for r in rows] != want:
        return f"screen {req}: sort keys differ from DuckDB"
    order = range(len(cols))
    for r in rows:
        if view.get(r[0]) is None or row_key(r, order) != row_key(view[r[0]], order):
            return f"screen {req}: row {r[0]} differs from DuckDB"
    return ""


_SCREEN_VIEW = """
CREATE VIEW customer_screen AS
WITH latest AS (
  SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders) WHERE rn = 1)
SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
       l.o_orderkey AS latest_orderkey, l.o_totalprice AS latest_price,
       l.o_orderdate AS latest_orderdate
FROM customer c LEFT JOIN latest l ON c.c_custkey = l.o_custkey
"""


def _duck(inputs: str):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            path = os.path.join(inputs, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    if {"customer.parquet", "orders.parquet"} <= set(os.listdir(inputs)):
        con.execute(_SCREEN_VIEW)
    return con


def manifest_steps(path: str) -> list[tuple]:
    """(job, start, end, status, target_date) of each finished step in
    the run manifest `run_daily_pipeline` writes; times are epoch
    seconds."""
    if not os.path.exists(path):
        return []
    running, steps = {}, []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["status"] == "running":
                running[rec["run_id"]] = rec
            elif rec["status"] in ("success", "failed") and rec["run_id"] in running:
                s = running.pop(rec["run_id"])
                steps.append((s["job"], s["ts"], rec["ts"], rec["status"], s["target_date"]))
    return steps


def expected_serving(results: list[OpResult], steps: list[tuple]) -> dict:
    """Give each op the manifest steps that ran inside its time window
    (`OpResult.steps`), and return, per gold job, the (as_of, version)
    its `_LATEST` should serve: versions count the publishes that
    succeeded, and a publish flips the pointer unless its date is
    older than the one served."""
    published = {job: 0 for job in GOLD_JOBS}
    served: dict[str, tuple] = {}
    for r in results:
        r.steps = [s for s in steps if r.start <= s[1] and s[2] <= r.end]
        for job, _, _, status, date in r.steps:
            if job not in published or status != "success":
                continue
            published[job] += 1
            d = dt.date.fromisoformat(date)
            if job not in served or d >= served[job][0]:
                served[job] = (d, published[job])
    return served


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _fail(r: OpResult, why: str) -> None:
    if not r.failed:
        r.failed, r.error = True, why[:300]
