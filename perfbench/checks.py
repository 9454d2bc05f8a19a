"""Output checks and statistics for the benchmark (no Spark).

Results are compared as multisets of per-row hashes, so row order never
matters and the number of differing rows is known, not just "differs".
Oracle results (DuckDB) are cached as their row hashes, keyed by the oracle
SQL plus the checksums of the input files, because computing them costs
more than the measured run.
"""
from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa


# -- percentiles -------------------------------------------------------------
def samples_beyond(n: int, p: float) -> int:
    """Samples that lie above the ``p``-th percentile of ``n`` samples."""
    return math.floor(n * (100.0 - p) / 100.0 + 1e-9)


def percentile_supported(n: int, p: float, min_beyond: int = 10) -> bool:
    """A percentile is reported only when at least ``min_beyond`` samples
    lie beyond it (p95 needs 200 samples)."""
    return samples_beyond(n, p) >= min_beyond


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), p))


def backlog_grew(latencies_ms: list[float], factor: float = 3.0,
                 slack_ms: float = 1000.0) -> bool:
    """True when the last quarter of an open-loop run (in release order)
    waited far longer than the first quarter: the offered rate was above
    what the system sustained, so the queue grew for the whole run."""
    q = len(latencies_ms) // 4
    if q == 0:
        return False
    first = float(np.median(latencies_ms[:q]))
    last = float(np.median(latencies_ms[-q:]))
    return last > factor * first and last - first > slack_ms


# -- row digests ---------------------------------------------------------------
def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Engine-neutral form of a result: columns in name order, bytes
    decoded, numeric-looking columns numeric, floats rounded to 6 places,
    every value rendered as a string (so int32 vs int64 or DECIMAL vs
    DOUBLE render alike)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: v.decode() if isinstance(v, (bytes, bytearray)) else v
            )
        try:
            pdf[c] = pd.to_numeric(pdf[c])
        except (ValueError, TypeError):
            pass
        if pdf[c].dtype == "float64":
            pdf[c] = pdf[c].round(6)
    return pdf.astype(str)


def row_hashes(table: pa.Table | pd.DataFrame) -> np.ndarray:
    """One 64-bit hash per row of the canonical form."""
    pdf = table.to_pandas() if isinstance(table, pa.Table) else table
    if len(pdf) == 0:
        return np.zeros(0, dtype=np.uint64)
    return pd.util.hash_pandas_object(canon(pdf), index=False).to_numpy(np.uint64)


def unmatched(want: np.ndarray, got: np.ndarray) -> np.ndarray:
    """Mask over ``want``: True for each row with no partner in ``got``,
    as multisets (a value twice in ``want`` and once in ``got`` leaves one
    of the two unmatched)."""
    want, got = np.asarray(want), np.asarray(got)
    if len(got) == 0 or len(want) == 0:
        return np.ones(len(want), dtype=bool)
    order = np.argsort(want, kind="stable")
    sw = want[order]
    starts = np.r_[0, np.flatnonzero(sw[1:] != sw[:-1]) + 1]
    occurrence = np.arange(len(sw)) - np.repeat(starts, np.diff(np.r_[starts, len(sw)]))
    g_vals, g_cnt = np.unique(got, return_counts=True)
    pos = np.minimum(np.searchsorted(g_vals, sw), len(g_vals) - 1)
    available = np.where(g_vals[pos] == sw, g_cnt[pos], 0)
    mask = np.empty(len(want), dtype=bool)
    mask[order] = occurrence >= available
    return mask


def multiset_diff(want: np.ndarray, got: np.ndarray) -> tuple[int, int]:
    """(rows of ``want`` missing from ``got``, rows of ``got`` not in
    ``want``), counting duplicates."""
    return int(unmatched(want, got).sum()), int(unmatched(got, want).sum())


# -- oracle cache ----------------------------------------------------------------
def file_checksum(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class OracleCache:
    """Row hashes of oracle results on disk, one ``.npy`` per key."""

    def __init__(self, cache_dir: str) -> None:
        self.cache_dir = cache_dir

    @staticmethod
    def key(sql: str, input_checksums: list[str]) -> str:
        return hashlib.sha256("\0".join([sql, *input_checksums]).encode()).hexdigest()

    def get_or_compute(self, sql: str, input_checksums: list[str], compute) -> np.ndarray:
        path = os.path.join(self.cache_dir, self.key(sql, input_checksums) + ".npy")
        if os.path.exists(path):
            return np.load(path, allow_pickle=False)
        hashes = compute()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + f".{os.getpid()}.tmp.npy"
        np.save(tmp, hashes, allow_pickle=False)
        os.replace(tmp, path)
        return hashes
