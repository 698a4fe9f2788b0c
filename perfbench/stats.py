"""Pure helpers of the benchmark: percentiles, span self time, an
order-independent row hash and the reference mutation model.

Nothing here imports Spark, so the unit tests in ``test_stats.py`` run
without a JVM.
"""

from __future__ import annotations

import math
import statistics

import numpy as np
import pandas as pd

# a tail percentile is reported only with at least this many samples
# strictly above it
TAIL_SAMPLES_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n: int, beyond: int = TAIL_SAMPLES_BEYOND) -> int | None:
    """Highest whole percentile whose nearest-rank sample still has at
    least ``beyond`` samples above it, among ``n`` samples; None when
    not even the 50th has (fewer than ``2 * beyond`` samples)."""
    best = None
    for pct in range(50, 100):
        if n - max(1, math.ceil(pct / 100.0 * n)) >= beyond:
            best = pct
    return best


def latency_summary(values: list[float]) -> dict:
    """Median, the tail percentile the sample supports, and the count."""
    tail = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values) if values else None,
        "tail_pct": tail,
        "tail": percentile(values, tail) if tail is not None else None,
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer that each span spent outside its children.

    A span is a dict with ``id``, ``parent`` (an id or None), ``layer``,
    ``start`` and ``end``. A span's self time is its duration minus the
    union of its direct children's intervals, each clipped to the
    parent's interval (children of one span may overlap when they ran
    on other threads)."""
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo) - covered
    return out


def normalize_frame(pdf: pd.DataFrame, columns: list[str]) -> pd.DataFrame:
    """Fix column order and widen dtypes (ints to int64, floats to
    float64, the rest to object) so frames from Spark and from the
    reference model hash alike."""
    out = pd.DataFrame(index=pd.RangeIndex(len(pdf)))
    for c in columns:
        col = pdf[c].reset_index(drop=True)
        if pd.api.types.is_integer_dtype(col):
            out[c] = col.astype("int64")
        elif pd.api.types.is_float_dtype(col):
            out[c] = col.astype("float64")
        else:
            out[c] = col.astype(object)
    return out


def row_hash(pdf: pd.DataFrame, columns: list[str]) -> tuple[int, int]:
    """(row count, sum of per-row 64-bit hashes mod 2**64): equal for
    any two orderings of the same multiset of rows."""
    norm = normalize_frame(pdf, columns)
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return len(norm), int(h.sum(dtype=np.uint64))


class ReferenceModel:
    """Last-write-wins table keyed by an integer primary key: what the
    live rows of an engine table must be after the same batches.

    Rows are tuples of the non-key column values; ``upsert`` overwrites,
    ``insert`` refuses a live key, ``delete_range`` drops every live key
    in a closed interval and returns how many it dropped."""

    def __init__(self, key: str, columns: list[str]):
        self.key = key
        self.columns = columns  # non-key columns, in row-tuple order
        self.rows: dict[int, tuple] = {}

    def upsert(self, keys, values) -> None:
        for k, v in zip(keys, values):
            self.rows[int(k)] = tuple(v)

    def insert(self, keys, values) -> None:
        for k in keys:
            if int(k) in self.rows:
                raise KeyError(f"insert of live key {int(k)}")
        self.upsert(keys, values)

    def delete_range(self, lo: int, hi: int) -> int:
        doomed = [k for k in self.rows if lo <= k <= hi]
        for k in doomed:
            del self.rows[k]
        return len(doomed)

    def frame(self) -> pd.DataFrame:
        keys = np.fromiter(self.rows.keys(), dtype=np.int64, count=len(self.rows))
        vals = list(self.rows.values())
        data = {self.key: keys}
        for i, c in enumerate(self.columns):
            data[c] = [v[i] for v in vals]
        return pd.DataFrame(data)
