"""Seeded input derivation from the committed sf0.01 snapshot.

``data/sf0.01`` is a copy of the synthetic star schema the test suite
reads (orders, lineitem, customer, ... , documents, embeddings). A run
never hands the snapshot to the program: it writes a derived copy into
its work directory and points the package at that copy.

The seed picks which rows are kept. Fact-like tables keep the rows
whose key hashes lowest, so the kept count is exact for every seed;
``lineitem`` follows its order, so every join stays consistent;
dimensions are kept whole. The stream slices of the payments fact, the
late-row share and the call order are also derived from the seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SNAPSHOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# table -> key column hashed to choose the kept rows
SAMPLED = {
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _mix(keys: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of key + seed: a stable per-seed order of the keys."""
    x = keys.astype(np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15) % 2**64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return x


def _lowest(keys: np.ndarray, seed: int, n: int) -> np.ndarray:
    mask = np.zeros(len(keys), dtype=bool)
    mask[np.argsort(_mix(keys, seed), kind="stable")[:n]] = True
    return mask


def derive_tables(out_dir: str, seed: int, fraction: float) -> dict[str, int]:
    """Write the seeded subset of every snapshot table to ``out_dir``;
    return the row count of each derived table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        f[: -len(".parquet")]: pq.read_table(os.path.join(SNAPSHOT, f))
        for f in sorted(os.listdir(SNAPSHOT))
        if f.endswith(".parquet")
    }
    counts = {}
    kept_orders = None
    for name in sorted(tables, key=lambda n: n == "lineitem"):
        t = tables[name]
        if name in SAMPLED:
            keys = t.column(SAMPLED[name]).to_numpy()
            mask = _lowest(keys, seed, max(1, round(len(keys) * fraction)))
            if name == "orders":
                kept_orders = keys[mask]
            t = t.filter(pa.array(mask))
        elif name == "lineitem":
            t = t.filter(pa.array(np.isin(t.column("l_orderkey").to_numpy(), kept_orders)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def stream_slices(
    fact: pa.Table, seed: int, window_days: int, n_slices: int, late_share: float
) -> list[pa.Table]:
    """Date-ordered slices of the payments fact over a seeded window of
    ``window_days`` days. A seeded ``late_share`` of the rows of every
    slice but the last is held back and lands 1-3 slices later."""
    rng = np.random.default_rng(seed)
    dates = fact.column("operating_date").to_numpy().astype("datetime64[D]")
    lo, hi = dates.min(), dates.max() - np.timedelta64(window_days, "D")
    start = lo + np.timedelta64(int(rng.integers(0, int((hi - lo) / np.timedelta64(1, "D")))), "D")
    in_window = (dates >= start) & (dates < start + np.timedelta64(window_days, "D"))
    fact = fact.filter(pa.array(in_window))
    dates = dates[in_window]
    order = np.argsort(dates, kind="stable")
    home = np.empty(len(order), dtype=np.int64)
    home[order] = np.arange(len(order)) * n_slices // len(order)
    late = rng.random(len(home)) < late_share
    delay = rng.integers(1, 4, len(home))
    lands = np.where(late, np.minimum(home + delay, n_slices - 1), home)
    return [fact.filter(pa.array(lands == k)) for k in range(n_slices)]


def date_range(table: pa.Table, column: str) -> tuple[dt.date, dt.date]:
    values = table.column(column).to_numpy().astype("datetime64[D]")
    return values.min().item(), values.max().item()
