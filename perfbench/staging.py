"""Seeded inputs: a row-permuted copy of the vendored tables and the
chunk split of the new-data stream.

Everything here is a pure function of the seed, so the same seed
gives byte-identical inputs and the program receives nothing else.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: new-data chunks the speed workload ingests per pass
N_CHUNKS = 4


def stage_tables(src_dir: str, out_dir: str, seed: int) -> None:
    """Write every table as ONE parquet file (the fixture layout),
    rows permuted by a per-table stream of ``seed``."""
    os.makedirs(out_dir)
    for i, t in enumerate(TABLES):
        table = pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(out_dir, f"{t}.parquet"))


def stage_chunks(events_path: str, out_dir: str, seed: int) -> list[tuple[str, int]]:
    """Split the events, in arrival (ts) order, into ``N_CHUNKS``
    files at seeded cut points, each chunk at least 5% of the rows.
    Returns ``[(path, rows), ...]`` in arrival order."""
    events = pq.read_table(events_path)
    events = events.take(pc.sort_indices(events, [("ts", "ascending"), ("event_id", "ascending")]))
    n = events.num_rows
    rng = np.random.default_rng([seed, 1000])
    shares = 0.05 + rng.dirichlet(np.ones(N_CHUNKS)) * (1 - 0.05 * N_CHUNKS)
    cuts = np.concatenate([[0], np.round(np.cumsum(shares) * n).astype(int)])
    cuts[-1] = n
    os.makedirs(out_dir)
    out = []
    for i in range(N_CHUNKS):
        path = os.path.join(out_dir, f"chunk_{i:02d}.parquet")
        rows = int(cuts[i + 1] - cuts[i])
        pq.write_table(events.slice(int(cuts[i]), rows), path)
        out.append((path, rows))
    return out
