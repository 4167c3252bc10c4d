"""The two benchmark workloads and their correctness checks.

``migrate``  the runner's batch job: every module's pipelines, each shaped
             and checked by its contract gate and landed with
             ``reload_overwrite`` into a fresh lake directory.
``ingest``   a closed loop with one caller: land the next seeded ``events``
             batch, then call ``incremental_publish_cycle``; the next batch
             lands only after the publish returns.

Each workload returns an ``Outcome``: operation latencies, byte counts and
the number of operations attempted and failed.  Checks run outside every
timed region; a wrong output counts as a failed operation.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from perfbench.trace import Tracer

MIGRATE_MODULES = ["core", "poa", "cronos", "auac", "corpus"]
# corpus-module pipeline -> operator family of the call it makes
CORPUS_FAMILIES = {
    "corpus.clean_docs": "cleaning",
    "corpus.survivors": "graph",
    "corpus.packed_sequences": "packing",
    "corpus.corpus_report": "text_analysis",
}
EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")

log = logging.getLogger("perfbench")


@dataclass
class Outcome:
    wall_s: list[float] = field(default_factory=list)  # one per iteration
    op_s: list[float] = field(default_factory=list)  # one per measured operation
    attempted: int = 0
    failed: int = 0
    input_bytes: int = 0
    written_bytes: int = 0
    stored_bytes: int = 0
    layer: dict = field(default_factory=dict)  # per-layer figures the workload measures itself


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, every file including markers and checksums."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


# ---------------------------------------------------------------- digests


def _canon(v) -> str:
    """Canonical text of a Python value, nested values included."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _canonical_text(col: pa.ChunkedArray, clock_floor: datetime | None) -> pa.ChunkedArray:
    """One string per value, equal exactly when the values are equal."""
    if pa.types.is_dictionary(col.type):
        col = col.cast(col.type.value_type)
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us"), safe=False)
        text = col.cast(pa.int64()).cast(pa.string())
        if clock_floor is not None:
            # audit-clock stamps (the run's ``now``) differ per run
            stamped = pc.greater_equal(col, pa.scalar(clock_floor, pa.timestamp("us")))
            text = pc.if_else(stamped, "<now>", text)
    elif pa.types.is_nested(col.type):
        text = pa.chunked_array([pa.array([_canon(v) for v in col.to_pylist()], pa.string())])
    else:
        text = col.cast(pa.string())
    return text.fill_null("<null>")


def table_digest(table: pa.Table, clock_floor: datetime | None = None) -> dict:
    """Row count plus an order-insensitive digest: the sum, mod 2**64, of a
    64-bit hash of every row's canonical text."""
    names = sorted(table.column_names)
    frame = pd.DataFrame({n: _canonical_text(table.column(n), clock_floor).to_pandas() for n in names})
    acc = pd.util.hash_pandas_object(frame, index=False).to_numpy().sum(dtype=np.uint64)
    return {"rows": table.num_rows, "digest": f"{int(acc):016x}", "columns": names}


def read_lake_table(path: str) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


# ---------------------------------------------------------------- migrate


def migrate(spark, sf_dir: str, work: str, seconds: float, tracer: Tracer, scale: str, record: bool) -> Outcome:
    from area_etl_spark import runner

    expected_path = os.path.join(EXPECTED_DIR, f"migrate-sf{scale}.json")
    expected = None
    if not record:
        with open(expected_path, encoding="utf-8") as f:
            expected = json.load(f)
    out = Outcome(input_bytes=dir_bytes(sf_dir)[1])
    specs = [(m, s) for m in MIGRATE_MODULES for s in runner.MODULES[m]]
    names = [f"{m}.{s.name}" for m, s in specs]
    layer = {"pipeline_s": [], "gap_s": [], "module_s": {m: [] for m in MIGRATE_MODULES},
             "family_s": {f: [] for f in CORPUS_FAMILIES.values()}, "files_written": 0}
    started = time.perf_counter()
    iteration = 0
    while iteration == 0 or time.perf_counter() - started < seconds:
        lake = os.path.join(work, f"lake{iteration}")
        clock_floor = datetime.now(timezone.utc).replace(tzinfo=None, microsecond=0)
        out.attempted += len(specs)
        t0 = time.perf_counter()
        try:
            with tracer.span("migrate.run", iteration=iteration):
                timings = runner.run(spark, sf_dir, lake, MIGRATE_MODULES)
        except Exception:  # noqa: BLE001 - a failed job is a counted result, not a crash
            log.error("migrate iteration %d failed:\n%s", iteration, traceback.format_exc())
            timings = None
        wall = time.perf_counter() - t0
        iteration += 1
        if timings is None:
            out.failed += len(specs)
            shutil.rmtree(lake, ignore_errors=True)
            continue
        out.wall_s.append(wall)
        out.op_s.extend(timings[n] for n in names)
        layer["pipeline_s"].append(sum(timings.values()))
        layer["gap_s"].append(wall - sum(timings.values()))
        for m in MIGRATE_MODULES:
            layer["module_s"][m].append(sum(v for k, v in timings.items() if k.startswith(m + ".")))
        for key, fam in CORPUS_FAMILIES.items():
            layer["family_s"][fam].append(timings.get(key, 0.0))
        files, size = dir_bytes(lake)
        layer["files_written"] += files
        out.written_bytes += size
        out.stored_bytes = size
        got = {n: table_digest(read_lake_table(os.path.join(lake, *n.split(".", 1))), clock_floor) for n in names}
        if record:
            os.makedirs(EXPECTED_DIR, exist_ok=True)
            with open(expected_path, "w", encoding="utf-8") as f:
                json.dump(got, f, indent=1, sort_keys=True)
        else:
            for n in names:
                if got[n] != expected.get(n):
                    out.failed += 1
                    log.error("migrate: %s differs from the expected table: got %s, expected %s", n, got[n], expected.get(n))
        shutil.rmtree(lake, ignore_errors=True)
    out.layer = layer
    return out


# ---------------------------------------------------------------- ingest


def _sorted_rows(rows) -> list[tuple]:
    return sorted(tuple(_canon(v) for v in r) for r in rows)


def ingest(spark, batches, stage: str, work: str, n_warmup: int, tracer: Tracer) -> Outcome:
    from area_etl_spark.sources.load import incremental_publish_cycle, read_snapshot_table
    from area_etl_spark.streaming.event_stream import windowed_event_agg
    from area_etl_spark.streaming.sessions import session_agg

    landing = os.path.join(work, "landing")
    warehouse = os.path.join(work, "warehouse")
    bookmark = os.path.join(work, "bookmark")
    os.makedirs(landing)
    os.makedirs(warehouse)

    def build_tables(raw):
        with tracer.span("streaming.build"):
            return {"sessions": session_agg(raw), "hourly": windowed_event_agg(raw)}

    out = Outcome()
    layer = {"raw_bytes": [], "cycle_spans": [], "files_written": 0}
    landed_ids: list[int] = []
    for i, (part, ids) in enumerate(batches):
        os.rename(os.path.join(stage, part), os.path.join(landing, part))
        out.input_bytes += dir_bytes(os.path.join(landing, part))[1]
        landed_ids.extend(ids)
        measured = i >= n_warmup
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.span("ingest.cycle" if measured else "ingest.warmup") as sp:
                snap, _ = incremental_publish_cycle(
                    spark, landing, warehouse, bookmark, "batch", ["event_id"], build_tables
                )
        except Exception:  # noqa: BLE001 - a failed cycle is a counted result
            log.error("ingest cycle %d failed:\n%s", i, traceback.format_exc())
            out.failed += 1
            continue
        dt = time.perf_counter() - t0
        if measured:
            out.op_s.append(dt)
            if sp is not None:
                layer["cycle_spans"].append(sp.id)
        for t in ("raw", "sessions", "hourly"):
            files, size = dir_bytes(os.path.join(warehouse, t, f"s={snap}"))
            layer["files_written"] += files
            out.written_bytes += size
            if t == "raw":
                layer["raw_bytes"].append(size)
        raw_dir = os.path.join(warehouse, "raw", f"s={snap}")
        raw_ids = np.sort(ds.dataset(raw_dir, format="parquet").to_table(columns=["event_id"]).column("event_id").to_numpy())
        if not np.array_equal(raw_ids, np.sort(np.asarray(landed_ids))):
            out.failed += 1
            log.error("ingest cycle %d: raw holds %d rows (%d distinct), %d landed", i, len(raw_ids), len(np.unique(raw_ids)), len(landed_ids))
    out.wall_s.append(sum(out.op_s))
    out.stored_bytes = dir_bytes(warehouse)[1]

    # final derived tables must equal one batch computation over all events
    everything = spark.read.parquet(landing).drop("batch")
    for name, fn in (("sessions", session_agg), ("hourly", windowed_event_agg)):
        want = _sorted_rows(fn(everything).collect())
        got = _sorted_rows(read_snapshot_table(spark, warehouse, name).collect())
        if got != want:
            out.failed += 1
            log.error("ingest: final %s has %d rows, a batch run over all events %d", name, len(got), len(want))
    out.layer = layer
    return out
