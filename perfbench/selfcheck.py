"""Self-checks of the benchmark's own code. No Spark needed.

    python3 perfbench/selfcheck.py      (or: python3 -m pytest perfbench/selfcheck.py)
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os
import sys
import tempfile
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import report  # noqa: E402
from measure import hd_median, table_hash, tail  # noqa: E402
from workloads import AnalyticsBatch, OpResult, expected_serving, manifest_steps  # noqa: E402


def test_same_seed_same_bytes():
    with tempfile.TemporaryDirectory() as d:
        a, b, c = (os.path.join(d, x) for x in "abc")
        gen.write_inputs(11, a, scale=0.1, doc_row_groups=4)
        gen.write_inputs(11, b, scale=0.1, doc_row_groups=4)
        gen.write_inputs(12, c, scale=0.1, doc_row_groups=4)
        names = sorted(os.listdir(a))
        assert names == sorted(os.listdir(b)) and len(names) == 10
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        assert not mismatch and not errors, mismatch
        _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
        assert "events.parquet" in differ and "documents.parquet" in differ
        assert pq.ParquetFile(os.path.join(a, "documents.parquet")).metadata.num_row_groups == 4
    assert gen.run_dates(5, 8) == gen.run_dates(5, 8)
    assert gen.screen_requests(5, 8) == gen.screen_requests(5, 8)


def test_date_sequence_has_rerun_and_backfill():
    for seed in range(20):
        d = [dt.date.fromisoformat(x) for x in gen.run_dates(seed, 6)]
        assert d[1] == d[0] and d[2] < d[0]
        assert [(b - a).days for a, b in zip(d[3:], d[4:])] == [1, 1]


def test_metric_names_and_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == report.END_TO_END
    assert layer == report.PER_LAYER
    names = list(e2e) + list(layer) + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert report.NAME.match(n), n
    assert {w["name"] for w in spec["workloads"]} == {"nightly_pipeline", "analytics_batch"}


def test_tail_rule():
    for n in range(1, 80):
        xs = [float((7 * i) % n) + i / 1000.0 for i in range(n)]  # distinct, unordered
        t = tail(xs)
        if n <= 10:
            assert t is None
            continue
        pct, value = t
        assert sum(x > value for x in xs) == 10
        assert abs(pct - 100.0 * (n - 10) / n) < 1e-9


def test_hd_median():
    """Order-free, the middle value of a symmetric sample, and pulled
    less than the mean by one far value."""
    assert abs(hd_median([5.0, 1.0, 3.0, 2.0, 4.0]) - 3.0) < 1e-9
    assert abs(hd_median([2.0, 4.0]) - 3.0) < 1e-12
    xs = [1.0, 1.1, 1.2, 1.3, 1.4, 1.5, 1.6, 1.7, 30.0]
    assert 1.3 < hd_median(xs) < 1.6 < sum(xs) / len(xs)


def test_hash_is_order_and_type_independent():
    ts = pa.array([0, 86_400_000_000], pa.int64())
    spark_like = pa.table({
        "k": pa.array([1, 2], pa.int32()),
        "v": pa.array([0.1 + 0.2, None], pa.float64()),
        "t": ts.cast(pa.timestamp("us", "UTC")),
        "s": ["a", None],
    })
    duck_like = pa.table({
        "s": ["a", None][::-1],
        "t": ts.cast(pa.timestamp("us"))[::-1],
        "v": pa.array([None, 0.3], pa.float64()),
        "k": pa.array([2, 1], pa.int64()),
    })
    assert table_hash(spark_like) == table_hash(duck_like)
    wrong = duck_like.set_column(2, "v", pa.array([None, 0.3001], pa.float64()))
    assert table_hash(wrong) != table_hash(spark_like)


def test_wrong_result_counts_as_failed():
    """An op whose result differs from the oracle is failed, and shows up
    in `failed` and `failed_frac`."""
    with tempfile.TemporaryDirectory() as d:
        good = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        pq.write_table(good, os.path.join(d, "t.parquet"))
        wl = AnalyticsBatch.__new__(AnalyticsBatch)
        wl.inputs = d
        wl.queries = {"q": types.SimpleNamespace(oracle="SELECT * FROM t")}
        wl.read_gold, wl.input_bytes = [], {}
        wrong = good.set_column(1, "v", pa.array([0.5, 1.5, 2.6]))
        wl.results = [
            OpResult("q", 1.0, 3, table_hash(good)),
            OpResult("q", 1.0, 3, table_hash(wrong)),
            OpResult("q", 1.0, 3, table_hash(good)),
        ]
        wl.verify()
        assert [r.failed for r in wl.results] == [False, True, False]
        args = types.SimpleNamespace(seed=1, trace=0)
        result, detail = report.build(
            wl, args, cpus=4, parallelism=4, setup_s=1.0, get_spark_s=1.0,
            cold=wl.results[: wl.COLD], region_s=2.0, peak_rss=2**20,
        )
        assert result["failed"] == 1 and result["attempted"] == 3 and not result["correct"]
        assert abs(detail["failed_frac"] - 1 / 3) < 1e-12


def test_probe_check():
    """A probe answer with the true cosines passes; a wrong cosine, a
    self-match or a missing query fails."""
    import numpy as np
    from workloads import _probe_error

    r = np.random.default_rng(0)
    v = r.normal(size=(40, 8))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    ids = [3, 17]
    rows = []
    for q in ids:
        cos = v @ v[q]
        cos[q] = -2.0
        top = np.argsort(-cos, kind="stable")[:5]
        rows += [(q, int(n), round(float(cos[n]), 6), k + 1) for k, n in enumerate(top)]
    assert _probe_error(v, ids, rows) == ""
    bad = list(rows)
    bad[2] = bad[2][:2] + (bad[2][2] - 0.01, bad[2][3])
    assert _probe_error(v, ids, bad)
    bad = list(rows)
    bad[0] = (3, 3, 1.0, 1)
    assert _probe_error(v, ids, bad)
    assert _probe_error(v, ids, rows[:5])


def test_failed_call_is_attributed_once():
    """A call that fails partway keeps its own manifest steps, and the
    expected `_LATEST` versions count only the publishes that
    happened, so the calls after it are checked as usual."""
    jobs = ["silver_events", "gold_snapshot", "gold_market_indicators", "gold_stock_screen"]
    calls = [  # (date, status of each step; None = not reached)
        ("2024-03-10", ["success"] * 4),
        ("2024-03-10", ["success", "success", "failed", None]),
        ("2024-03-07", ["success"] * 4),  # backfill: publishes, must not flip
        ("2024-03-11", ["success"] * 4),
    ]
    results, lines, t = [], [], 100.0
    for n, (date, statuses) in enumerate(calls):
        r = OpResult("nightly_pipeline", 1.0, 0)
        r.start = t
        for k, (job, status) in enumerate(zip(jobs, statuses)):
            if status is None:
                break
            rid = f"{n}-{k}"
            lines.append({"run_id": rid, "job": job, "target_date": date, "status": "running", "ts": t + 0.1})
            lines.append({"run_id": rid, "status": status, "ts": t + 0.2})
            t += 0.3
        r.end, t = t, t + 1.0
        results.append(r)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "runs.jsonl")
        with open(path, "w") as f:
            f.writelines(json.dumps(x) + "\n" for x in lines)
        served = expected_serving(results, manifest_steps(path))
    assert [len(r.steps) for r in results] == [4, 3, 4, 4]
    last = dt.date(2024, 3, 11)
    assert served == {
        "gold_snapshot": (last, 4),
        "gold_market_indicators": (last, 3),
        "gold_stock_screen": (last, 3),
    }
    served = expected_serving(results[:3], [s for r in results[:3] for s in r.steps])
    assert served["gold_snapshot"] == (dt.date(2024, 3, 10), 2)  # the backfill (v3) did not flip
    assert served["gold_stock_screen"] == (dt.date(2024, 3, 10), 1)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok  {name}")
