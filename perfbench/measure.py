"""Measurement helpers: latency summaries (median, tail), peak resident
memory of the Spark processes, and the order-independent result hash."""

from __future__ import annotations

import hashlib
import math
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

_PAGE = os.sysconf("SC_PAGE_SIZE")


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all the
    order statistics, with Beta((n+1)/2, (n+1)/2) weights. On the few
    (2-20) mixed-size ops of one run it varies less than the sample
    median, which jumps between neighbouring ops."""
    x = np.sort(np.asarray(xs, np.float64))
    n = len(x)
    a = (n + 1) / 2.0
    t = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    pdf = np.exp(log_norm + (a - 1) * (np.log(t) + np.log1p(-t)))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * np.diff(t))])
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(w @ x / w.sum())


def tail(latencies: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile that leaves at
    least `min_beyond` samples above it, or None when the run has too
    few samples. The percentile is p = 1 - min_beyond/n, and its value
    is the (n - min_beyond)-th smallest sample, so exactly
    `min_beyond` samples lie beyond it."""
    n = len(latencies)
    if n <= min_beyond:
        return None
    ordered = sorted(latencies)
    return 100.0 * (n - min_beyond) / n, ordered[n - min_beyond - 1]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host's vCPUs so far, from
    /proc/stat: the share stolen by other guests shows how much of a
    run's wall came from a busy host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def spark_rss(root: int) -> tuple[int, int]:
    """Resident bytes of the JVM started below `root`, and of the
    Python processes below it (pyspark's daemon and workers). The JVM's
    other children are short-lived helper commands forked from it,
    which share its pages; they are not counted."""
    jvm = python = 0
    todo = [(c, False) for c in _children(root)]
    while todo:
        pid, under_jvm = todo.pop()
        comm = _comm(pid)
        if comm == "java" and not under_jvm:
            jvm += _rss(pid)
            todo.extend((c, True) for c in _children(pid))
        elif comm.startswith("python"):
            python += _rss(pid)
            todo.extend((c, under_jvm) for c in _children(pid))
        else:
            todo.extend((c, under_jvm) for c in _children(pid))
    return jvm, python


class PeakRss:
    """Samples the resident memory of this process's descendants every
    `interval` seconds on a background thread and keeps the peak of
    the total and of each part."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            jvm, python = spark_rss(me)
            self.peak = max(self.peak, jvm + python)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, python)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v + 0.0:.9g}"  # -0.0 -> 0.0
    if v is None:
        return "NULL"
    return str(v)


def row_key(row, order) -> str:
    """A row as text: the oracle suite's comparison rule (floats to 9
    significant digits, NULL and NaN spelled out)."""
    return "\x01".join(_cell(row[i]) for i in order)


_NULL_F = -1.2345678e308
_NULL_I = -(2**63) + 7


def _canonical(col: pa.ChunkedArray) -> np.ndarray | pd.Series:
    """One column as a numpy/pandas array both engines agree on:
    integers and booleans as int64, floats and decimals rounded to 9
    significant digits, timestamps as epoch microseconds, dates as
    days, everything else as text."""
    a = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = a.type
    if pa.types.is_timestamp(t):
        a = pc.cast(pc.cast(a, pa.timestamp("us", t.tz)), pa.int64())
        t = a.type
    if pa.types.is_date(t):
        a = pc.cast(pc.cast(a, pa.date32()), pa.int32())
        t = a.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return pc.fill_null(pc.cast(a, pa.int64()), _NULL_I).to_numpy()
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        x = pc.cast(a, pa.float64()).to_numpy(zero_copy_only=False).copy()
        null = np.asarray(pc.is_null(a))
        with np.errstate(all="ignore"):
            mag = np.where(np.isfinite(x) & (x != 0), np.floor(np.log10(np.abs(x))), 0.0)
            scale = 10.0 ** (8 - mag)
            r = np.where(np.isfinite(x) & (x != 0), np.round(x * scale) / scale, x) + 0.0
        r[null] = _NULL_F
        return r
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pd.Series(pc.fill_null(pc.cast(a, pa.large_string()), "\x00NULL").to_numpy(zero_copy_only=False))
    return pd.Series([_cell(v) for v in a.to_pylist()])


def table_hash(table: pa.Table) -> str:
    """Order-independent hash of a result table: each row hashed over
    its canonical columns in name order, the row hashes sorted, then
    digested with the column names."""
    cols = sorted(table.column_names)
    frame = pd.DataFrame({c: _canonical(table.column(c)) for c in cols})
    rows = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy()) if cols else np.zeros(0, np.uint64)
    h = hashlib.sha256("\x02".join(cols).encode())
    h.update(rows.tobytes())
    return h.hexdigest()
