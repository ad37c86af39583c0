"""Seeded inputs for the benchmark.

Every input is a pure function of the seed: the TPC-H-ish star schema
plus `events` and `embeddings` (the schemas and value ranges of the
library's `sources.TABLE_NAMES`), a Zipf-vocabulary `documents`
table, the nightly run-date sequence, the `api.screen` request
stream and the `ivf_pq_probe` query batches. Sizes are fixed; the seed moves values only, so runs on
different seeds do the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1 follow the sf0.1 layout (lineitem 600k rows,
# ~17 MB of parquet in total); everything fits in memory many times
# over. `documents` is the Zipf corpus and does not scale.
SIZES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "users": 1_500,
    "embeddings": 2_000,
}
DOCUMENTS = 1_000
VOCAB = 50_000  # Zipf vocabulary size for the documents table
ZIPF_S = 1.05
EMB_DIM = 64
EMB_CLUSTERS = 10

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "dark"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "spring"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_EPOCH = np.datetime64("1970-01-01", "D")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _days_us(start: str, days: np.ndarray) -> pa.Array:
    base = (np.datetime64(start, "D") - _EPOCH).astype(np.int64)
    us = (base + days.astype(np.int64)) * 86_400_000_000
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    n = {k: max(1, round(v * scale)) for k, v in SIZES.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    r = _rng(seed, 1)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": _keyed_names("Customer", n["customer"]),
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n["customer"])],
        }
    )
    r = _rng(seed, 2)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": _keyed_names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
        }
    )
    r = _rng(seed, 3)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": names[r.integers(0, len(names), n["part"])],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                r.integers(0, 25, n["part"])
            ],
            "p_type": np.array(_PTYPES)[r.integers(0, 6, n["part"])],
            "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2),
        }
    )
    r = _rng(seed, 4)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n["orders"])],
            "o_totalprice": _money(r, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days_us("1995-01-01", r.integers(0, 2400, n["orders"])),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n["orders"])],
        }
    )
    r = _rng(seed, 5)
    m = n["lineitem"]
    qty = r.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, m), 2),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
            "l_shipdate": _days_us("1995-01-02", r.integers(0, 2500, m)),
        }
    )
    r = _rng(seed, 6)
    e = n["events"]
    # 30 days of 2024-01, ascending with event_id
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, e)) + 1_704_067_200_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n["users"], e), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, e)],
            "value": np.round(np.minimum(r.exponential(50.0, e), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)],
        }
    )
    r = _rng(seed, 7)
    k = n["embeddings"]
    centers = r.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = r.integers(0, EMB_CLUSTERS, k)
    v = centers[label] + 0.6 * r.normal(size=(k, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(k), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return out


def _vocabulary(r: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct lowercase tokens of 2-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: dict[str, None] = {}
    while len(seen) < size:
        lens = r.integers(2, 10, size)
        chars = letters[r.integers(0, 26, (size, 9))]
        for row, ln in zip(chars, lens):
            seen.setdefault("".join(row[:ln]), None)
            if len(seen) == size:
                break
    return np.array(list(seen))


def zipf_documents(seed: int) -> pa.Table:
    """The `documents` table over a Zipf vocabulary: 5% of the docs are
    an earlier doc plus a trailing ' dup' token, for the dedup
    families."""
    r = _rng(seed, 8)
    n = DOCUMENTS
    vocab = _vocabulary(r, VOCAB)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    lens = r.integers(10, 101, n)
    toks = vocab[r.choice(VOCAB, int(lens.sum()), p=p)]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n)]
    for i in np.flatnonzero(r.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[r.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_inputs(
    seed: int, out_dir: str, *, scale: float, names=None, doc_row_groups: int = 1
) -> dict[str, int]:
    """Write the tables in `names` (default: all) as
    `<out_dir>/<name>.parquet`; returns the bytes of each file. Star
    tables are one row group each (the sf0.1 layout); `documents` is
    split into `doc_row_groups` row groups."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, scale)
    if names is None or "documents" in names:
        tables["documents"] = zipf_documents(seed)
    sizes = {}
    for name, t in tables.items():
        if names is not None and name not in names:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        rg = -(-t.num_rows // doc_row_groups) if name == "documents" else t.num_rows
        pq.write_table(t, path, row_group_size=max(rg, 1))
        sizes[name] = os.path.getsize(path)
    return sizes


def run_dates(seed: int, n: int) -> list[str]:
    """Nightly run dates: a seeded start day, then a same-date re-run,
    an older backfill date, and consecutive days after that."""
    r = _rng(seed, 9)
    start = dt.date(2024, 2, 1) + dt.timedelta(days=int(r.integers(0, 120)))
    back = int(r.integers(2, 6))
    seq = [start, start, start - dt.timedelta(days=back)]
    while len(seq) < n:
        seq.append(start + dt.timedelta(days=len(seq) - 2))
    return [d.isoformat() for d in seq[:n]]


def screen_requests(seed: int, n: int) -> list[dict]:
    """`api.screen` keyword arguments: segment, min_acctbal, order_by,
    limit."""
    r = _rng(seed, 10)
    cols = ["latest_price", "c_acctbal", "latest_orderdate", "c_custkey"]
    return [
        {
            "segment": _SEGMENTS[int(r.integers(0, 5))],
            "min_acctbal": float(np.round(r.uniform(-500.0, 8000.0), 2)),
            "order_by": cols[int(r.integers(0, len(cols)))],
            "descending": bool(r.integers(0, 2)),
            "limit": int(r.integers(10, 101)),
        }
        for _ in range(n)
    ]


def probe_batches(seed: int, n: int, size: int = 8) -> list[list[int]]:
    """`ivf_pq_probe` query batches: `size` distinct embedding ids
    each."""
    r = _rng(seed, 11)
    k = SIZES["embeddings"]
    return [sorted(int(x) for x in r.choice(k, size, replace=False)) for _ in range(n)]
