"""Seeded lineitem generator for the benchmark.

The input graph is the co-occurrence graph of ``l_partkey`` within
``l_orderkey`` (``linkgraph.graph.edges_from_lineitem``).  The table is
drawn in the shape of the TPC-H-like test corpus: per scale factor
``sf``, 6,000,000·sf lines whose order keys are uniform over
1,500,000·sf orders (so ~Poisson(4) lines per order) and whose part
keys are uniform over 200,000·sf parts.

One base table is drawn per scale factor from a fixed stream.  A run
seed then relabels ``l_partkey`` through a seeded bijection of
``[0, n_parts)`` — seed 0 is the identity — so every seed yields an
isomorphic graph with exactly the same vertex, edge and degree counts,
while hash-driven choices (stream order, partition placement) differ.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_STREAM = 20_240_917


def lineitem_columns(sf: float, seed: int) -> tuple[np.ndarray, np.ndarray]:
    n_lines = round(6_000_000 * sf)
    n_orders = round(1_500_000 * sf)
    n_parts = round(200_000 * sf)
    rng = np.random.default_rng(BASE_STREAM)
    orderkey = np.sort(rng.integers(0, n_orders, n_lines, dtype=np.int64))
    partkey = rng.integers(0, n_parts, n_lines, dtype=np.int64)
    if seed:
        relabel = np.random.default_rng(seed).permutation(n_parts).astype(np.int64)
        partkey = relabel[partkey]
    return orderkey, partkey


def write_sf_dir(root: Path, sf: float, seed: int) -> Path:
    """Write ``<root>/sf<sf>-seed<seed>/lineitem.parquet`` once and
    return the directory (an existing complete copy is reused)."""
    sf_dir = root / f"sf{sf}-seed{seed}"
    target = sf_dir / "lineitem.parquet"
    if target.exists():
        return sf_dir
    sf_dir.mkdir(parents=True, exist_ok=True)
    orderkey, partkey = lineitem_columns(sf, seed)
    tmp = sf_dir / f".lineitem.{os.getpid()}.tmp"
    pq.write_table(
        pa.table({"l_orderkey": orderkey, "l_partkey": partkey}), tmp
    )
    tmp.rename(target)
    return sf_dir


def co_occurrence_edges(orderkey: np.ndarray, partkey: np.ndarray) -> np.ndarray:
    """The expected edge set, computed without Spark: distinct
    ``(src, dst)`` with ``src < dst`` over parts sharing an order.
    Returns an ``(m, 2)`` int64 array sorted by (src, dst)."""
    order = np.lexsort((partkey, orderkey))
    ok, pk = orderkey[order], partkey[order]
    starts = np.flatnonzero(np.r_[True, ok[1:] != ok[:-1]])
    sizes = np.diff(np.r_[starts, len(ok)])
    pairs = []
    for size in range(2, int(sizes.max(initial=0)) + 1):
        group_starts = starts[sizes == size]
        if not len(group_starts):
            continue
        block = pk[group_starts[:, None] + np.arange(size)]
        i, j = np.triu_indices(size, 1)
        pairs.append(np.stack([block[:, i].ravel(), block[:, j].ravel()], 1))
    e = np.concatenate(pairs) if pairs else np.empty((0, 2), np.int64)
    e = e[e[:, 0] < e[:, 1]]
    return np.unique(e, axis=0)
