"""W6 incremental snapshot (signal-triggered chunked backfill) and
W7 multi-table routing / table-group splitting."""

import json
import os

from pyspark.sql import functions as F

from debezium_connector_cockroachdb_spark.sources.generator import (
    GeneratorConfig,
    seed_table,
    write_log,
)
from debezium_connector_cockroachdb_spark.streaming.backfill import (
    process_signals,
    run_incremental_snapshot,
)
from debezium_connector_cockroachdb_spark.streaming.multitable import (
    MultiTablePipeline,
    partition_tables,
)
from debezium_connector_cockroachdb_spark.streaming.pipeline import CDCPipeline, IngestConfig


def test_partition_tables_matches_reference_semantics():
    """partitionTables (:338-347): consecutive chunks of ≤N."""
    t = [f"t{i}" for i in range(7)]
    assert partition_tables(t, 3) == [["t0", "t1", "t2"], ["t3", "t4", "t5"], ["t6"]]
    assert partition_tables(t, None) == [t]
    assert partition_tables([], 3) == []


def _mk_pipe(spark, tmp_path, name, gcfg):
    log_dir = str(tmp_path / f"log_{name}")
    write_log(spark, gcfg, log_dir)
    icfg = IngestConfig(
        log_dir=log_dir,
        table_path=str(tmp_path / f"table_{name}"),
        metrics_path=str(tmp_path / f"metrics_{name}"),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        num_buckets=8,
        snapshot_mode="never",
    )
    return CDCPipeline(spark, icfg), log_dir


def test_incremental_snapshot_backfills_in_chunks(spark, tmp_path):
    gcfg = GeneratorConfig(num_keys=40, num_events=200, resolved_every=100, n_files=2)
    pipe, log_dir = _mk_pipe(spark, tmp_path, "t1", gcfg)
    # stream some data first (live table state)
    q = pipe.start_stream(available_now=True)
    q.awaitTermination()
    n_stream = pipe.read_state().count()

    # signal: snapshot a source containing extra pre-existing keys
    seed = seed_table(spark, GeneratorConfig(num_keys=200, num_events=1))
    sig_dir = str(tmp_path / "signals")
    os.makedirs(sig_dir)
    with open(os.path.join(sig_dir, "001.json"), "w") as f:
        json.dump({"id": "sig-1", "type": "execute-snapshot", "data": {"source": "default"}}, f)

    results = process_signals(pipe, sig_dir, {"default": seed}, n_chunks=4)
    assert len(results) == 1 and len(results[0]) == 4
    # every chunk merged a disjoint bucket slice
    assert sum(s["n_updates"] for s in results[0]) == seed.count()
    # backfill rows are op='r' at snapshot ts → never overwrite stream state
    final = pipe.read_state().count()
    assert final >= max(n_stream, seed.count() - n_stream)
    # signal marked done → idempotent drain
    assert process_signals(pipe, sig_dir, {"default": seed}) == []
    # replaying the same signal id would be a no-op per chunk (batch keys)
    applied = pipe.table.meta["applied"]
    assert sum(1 for k in applied if k.startswith("backfill:sig-1:")) == 4


def test_backfill_after_ddl_reads_registered_default(spark, tmp_path):
    """C14 through the backfill's registry refresh: a DDL that adds a
    column with a literal default lands after the stream drained; the
    backfill adopts it with its default, so rows written before the DDL
    read back 'PENDING', as they do when the stream adopts the DDL."""
    gcfg = GeneratorConfig(num_keys=40, num_events=200, resolved_every=100, n_files=2)
    pipe, log_dir = _mk_pipe(spark, tmp_path, "ddl", gcfg)
    pipe.start_stream(available_now=True).awaitTermination()
    state = pipe.read_state()
    live = spark.createDataFrame(state.collect(), state.schema)
    with open(os.path.join(log_dir, "_schema", "v2.json"), "w") as f:
        json.dump({"version": 2, "columns": [
            {"name": "doc_id", "crdb_type": "STRING", "nullable": False},
            {"name": "tokens", "crdb_type": "INT4[]", "nullable": False},
            {"name": "n_tok", "crdb_type": "INT4", "nullable": False},
            {"name": "source", "crdb_type": "STRING", "nullable": False},
            {"name": "status", "crdb_type": "STRING", "nullable": True,
             "default": "'PENDING':::STRING"},
        ]}, f)

    run_incremental_snapshot(pipe, live, signal_id="sig-ddl", n_chunks=2)
    assert pipe.registry_version == 2
    rows = pipe.read_state().collect()
    assert len(rows) == live.count() > 0
    assert all(r["status"] == "PENDING" for r in rows)


def test_multitable_routing(spark, tmp_path):
    """Two tables' events interleaved in one stream → each snapshot table
    gets exactly its own keys; resolved rows advance both frontiers."""
    gcfg = GeneratorConfig(num_keys=30, num_events=150, resolved_every=50, n_files=2)
    pipe_a, log_a = _mk_pipe(spark, tmp_path, "alpha", gcfg)
    pipe_b, log_b = _mk_pipe(spark, tmp_path, "beta", gcfg)

    raw_a = spark.read.parquet(log_a).withColumn(
        "topic", F.lit("crdb.public.alpha")
    ).withColumn("value", F.regexp_replace("value", '"table_name":"tokenized_sequences"', '"table_name":"alpha"'))
    raw_b = spark.read.parquet(log_b).withColumn(
        "topic", F.lit("crdb.public.beta")
    ).withColumn("value", F.regexp_replace("value", '"table_name":"tokenized_sequences"', '"table_name":"beta"'))
    mixed = raw_a.unionByName(raw_b)

    mt = MultiTablePipeline(spark, {"alpha": pipe_a, "beta": pipe_b})
    stats = mt.process_batch(mixed, batch_id=0)
    assert stats["alpha"]["n_updates"] > 0 and stats["beta"]["n_updates"] > 0
    # same generator seed → same final state per table
    sa = {r["doc_id"] for r in pipe_a.read_state().collect()}
    sb = {r["doc_id"] for r in pipe_b.read_state().collect()}
    assert sa == sb and len(sa) > 0
    # both frontiers advanced via the shared resolved rows
    assert pipe_a.table.meta["frontier"]["wall_ns"] > 0
    assert pipe_b.table.meta["frontier"]["wall_ns"] > 0


def test_multitable_stream_restart_no_reapply(spark, tmp_path):
    """Checkpointed multi-table streaming: draining the same log twice
    from one checkpoint must not re-apply batches to ANY table (per-table
    batch_key idempotence under the shared foreachBatch), and a restarted
    query picks up only NEW files."""
    gcfg = GeneratorConfig(num_keys=30, num_events=150, resolved_every=50, n_files=2)
    pipe_a, log_a = _mk_pipe(spark, tmp_path, "alpha", gcfg)
    pipe_b, log_b = _mk_pipe(spark, tmp_path, "beta", gcfg)

    mixed_dir = str(tmp_path / "mixed")
    raw_a = spark.read.parquet(log_a).withColumn("topic", F.lit("crdb.public.alpha")).withColumn(
        "value", F.regexp_replace("value", '"table_name":"tokenized_sequences"', '"table_name":"alpha"'))
    raw_b = spark.read.parquet(log_b).withColumn("topic", F.lit("crdb.public.beta")).withColumn(
        "value", F.regexp_replace("value", '"table_name":"tokenized_sequences"', '"table_name":"beta"'))
    raw_a.unionByName(raw_b).coalesce(2).write.parquet(mixed_dir)

    from debezium_connector_cockroachdb_spark.streaming.multitable import MultiTablePipeline

    mt = MultiTablePipeline(spark, {"alpha": pipe_a, "beta": pipe_b})
    ckpt = str(tmp_path / "ckpt")
    q = mt.start_stream(mixed_dir, ckpt, available_now=True)
    q.awaitTermination()
    va = pipe_a.table.meta["version"]
    vb = pipe_b.table.meta["version"]
    sa = sorted(r["doc_id"] for r in pipe_a.read_state().collect())
    assert sa  # data landed

    # drain again from the same checkpoint: no new files -> no new batches
    q2 = mt.start_stream(mixed_dir, ckpt, available_now=True)
    q2.awaitTermination()
    from debezium_connector_cockroachdb_spark.sources.lake import SnapshotTable

    assert SnapshotTable.load(pipe_a.cfg.table_path).meta["version"] == va
    assert SnapshotTable.load(pipe_b.cfg.table_path).meta["version"] == vb
    assert sorted(r["doc_id"] for r in pipe_a.read_state().collect()) == sa
