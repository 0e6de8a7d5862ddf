"""Changelog input of the continuous workload, built with pyarrow.

The multiplicity recipe is the plan helpers' (``DeltaGen``: +1 every base
row, +1 duplicate where ``key % dup_mod == 0``, -1 delete where
``key % del_mod == 0``), so the net changelog, and with it the final
maintained result, is the one the registered DuckDB oracle describes.
The seed picks rows by a seeded hash of their key (``key_slots``).

Input is written with pyarrow, not Spark, so generating it launches no
Spark job and stays out of every timed region and out of the event log.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MASK = 0xFFFFFFFFFFFFFFFF


def key_slots(keys: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Uniform [0, 1) position per key: splitmix64 of (key, seed, salt)."""
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        z ^= np.uint64((seed * 0xBF58476D1CE4E5B9 + salt * 0x94D049BB133111EB) & _MASK)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return (z >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def build_changelog(sf_dir: str, gens: Sequence) -> pa.Table:
    """The union changelog of ``gens``: ``rel``, ``weight`` and the union of
    the relations' columns (null where a column is not the row's)."""
    parts = []
    for g in gens:
        base = pq.read_table(os.path.join(sf_dir, f"{g.table}.parquet"), columns=list(g.columns))
        keys = base.column(g.key).to_numpy()
        kinds = [(1, None)]
        if g.dup_mod is not None:
            kinds.append((1, keys % g.dup_mod == 0))
        if g.del_mod is not None:
            kinds.append((-1, keys % g.del_mod == 0))
        for weight, mask in kinds:
            rows = base if mask is None else base.filter(pa.array(mask))
            rows = rows.add_column(0, "weight", pa.array(np.full(len(rows), weight, np.int32)))
            parts.append(rows.add_column(0, "rel", pa.array([g.table] * len(rows), pa.string())))
    return pa.concat_tables(parts, promote_options="default")


def write_chunks(chunks: Sequence[pa.Table], out_dir: str) -> list[int]:
    """One parquet file per micro-batch, named and timestamped in order (the
    file source picks the oldest file first); returns each chunk's rows."""
    os.makedirs(out_dir, exist_ok=True)
    t0 = 1_600_000_000
    for i, t in enumerate(chunks):
        path = os.path.join(out_dir, f"chunk{i:04d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (t0 + i, t0 + i))
    return [t.num_rows for t in chunks]
