"""Signal-triggered incremental snapshot (W6).

Reference: CockroachDBSignalBasedIncrementalSnapshotChangeEventSource.java
:42-68 — a row in the signal table triggers a chunked re-read of a table,
with a schema refresh before each chunk, interleaved with streaming through
the same dispatcher; IT coverage in CockroachDBIncrementalSnapshotIT.java.

Spark mapping: signals are JSON files in a control directory (the signal
*table* analogue); each execute-snapshot signal re-reads the source in
**bucket-aligned chunks** — chunk i covers the pks whose hash-bucket falls
in slice i, so every chunk's MERGE touches only its own buckets (bounded
rewrite per chunk, the property that matters at 10^10 rows: a backfill
never rewrites the whole table at once, and a crash mid-backfill resumes at
the chunk boundary because each chunk is an idempotent batch_key)."""

from __future__ import annotations

import glob
import json
import os
from typing import Any

from pyspark.sql import DataFrame


def read_signals(signals_dir: str) -> list[dict[str, Any]]:
    """Pending signals, ordered by id. Shape mirrors the reference's signal
    table (id STRING, type STRING, data STRING) —
    CockroachDBIncrementalSnapshotIT.java:100-120."""
    out = []
    for p in sorted(glob.glob(os.path.join(signals_dir, "*.json"))):
        with open(p) as f:
            doc = json.load(f)
        doc["_path"] = p
        out.append(doc)
    return out


def mark_done(signal: dict[str, Any]) -> None:
    os.replace(signal["_path"], signal["_path"] + ".done")


def run_incremental_snapshot(
    pipeline,
    source_df: DataFrame,
    signal_id: str,
    n_chunks: int = 8,
    snapshot_wall_ns: int | None = None,
) -> list[dict[str, Any]]:
    """Chunked backfill of ``source_df`` into the pipeline's table as
    op='r' rows. Each chunk is one idempotent merge (batch_key carries the
    signal id + chunk index → replay-safe); the registry is re-consulted
    before every chunk (schema refreshed per chunk, :60-67)."""
    table = pipeline.table
    nb = table.meta["num_buckets"]
    wall = snapshot_wall_ns if snapshot_wall_ns is not None else pipeline.cfg.snapshot_wall_ns
    stats = []
    for chunk in range(n_chunks):
        pipeline._poll_registry()  # schema refresh before each chunk (E2 analogue)
        lo = chunk * nb // n_chunks
        hi = (chunk + 1) * nb // n_chunks
        bucket = table.bucket_expr()
        part = source_df.filter((bucket >= lo) & (bucket < hi))
        s = table.merge(pipeline.spark, pipeline._snapshot_rows(part, wall),
                        batch_key=f"backfill:{signal_id}:{chunk}")
        s["chunk"] = chunk
        pipeline._write_metrics(-2, "backfill", s, extra={})
        stats.append(s)
    return stats


def process_signals(pipeline, signals_dir: str, sources: dict[str, DataFrame], n_chunks: int = 8):
    """Drain pending signals: execute-snapshot → chunked backfill of the
    named source. Unknown types are marked done and skipped (logged via
    metrics phase)."""
    results = []
    for sig in read_signals(signals_dir):
        if sig.get("type") == "execute-snapshot":
            src_name = (sig.get("data") or {}).get("source", "default")
            df = sources[src_name]
            results.append(
                run_incremental_snapshot(pipeline, df, signal_id=str(sig.get("id")), n_chunks=n_chunks)
            )
        mark_done(sig)
    return results

