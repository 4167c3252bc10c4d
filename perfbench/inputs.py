"""Seeded benchmark inputs.

The fixed tables under ``perfbench/data/sf<scale>/`` are copies of the
project's deterministic test tables.  A workload seed never changes their
content, only the order the program sees it in:

* ``migrate``: every table is re-emitted as one parquet file with its rows
  permuted by the seed (same file count, same row-group layout, same codec),
  so the seed changes order and not layout.
* ``ingest``: the seed permutes the ``events`` rows and splits them into a
  fixed number of landing batches; batch ``i`` is staged as a hive partition
  ``batch=<i>`` that the closed loop later moves into the landing directory.

Everything here runs before any timed region and uses pyarrow only.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixed_tables_dir(scale: str) -> str:
    path = os.path.join(DATA_DIR, f"sf{scale}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no fixed tables for scale {scale} at {path}")
    return path


def _rng(seed: int, salt: str) -> np.random.Generator:
    # one independent stream per table, stable under table-list changes
    return np.random.default_rng([seed, *salt.encode()])


def _write_like(table, src: pq.ParquetFile, path: str) -> None:
    meta = src.metadata
    codec = meta.row_group(0).column(0).compression if meta.num_row_groups else "SNAPPY"
    pq.write_table(
        table,
        path,
        compression=codec.lower(),
        row_group_size=max(1, meta.row_group(0).num_rows) if meta.num_row_groups else None,
    )


def permuted_tables(scale: str, seed: int, out_dir: str) -> int:
    """Write every fixed table with rows permuted by ``seed``; returns the
    total bytes written (the migration's input size)."""
    src_dir = fixed_tables_dir(scale)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name in sorted(os.listdir(src_dir)):
        if not name.endswith(".parquet"):
            continue
        src = pq.ParquetFile(os.path.join(src_dir, name))
        table = src.read()
        perm = _rng(seed, name).permutation(table.num_rows)
        dest = os.path.join(out_dir, name)
        _write_like(table.take(perm), src, dest)
        total += os.path.getsize(dest)
    return total


def staged_event_batches(scale: str, seed: int, n_batches: int, stage_dir: str) -> list[tuple[str, list[int]]]:
    """Split the seed-permuted ``events`` rows into ``n_batches`` hive
    partitions under ``stage_dir``.  Returns, in landing order, each batch's
    partition directory name and its ``event_id`` values."""
    src = pq.ParquetFile(os.path.join(fixed_tables_dir(scale), "events.parquet"))
    events = src.read()
    perm = _rng(seed, "events.batches").permutation(events.num_rows)
    batches = []
    for i, rows in enumerate(np.array_split(perm, n_batches)):
        part = f"batch={i:06d}"
        os.makedirs(os.path.join(stage_dir, part))
        chunk = events.take(rows)
        _write_like(chunk, src, os.path.join(stage_dir, part, "part-00000.parquet"))
        batches.append((part, chunk.column("event_id").to_pylist()))
    return batches
