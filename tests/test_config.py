"""IngestConfig validation matrix (CockroachDBConnectorConfigTest analogue
— the reference devotes 594 LoC to config validation; ours asserts the
dataflow-relevant knobs reject invalid values and the Kafka source path
gates cleanly when its package is absent)."""

import pytest

from debezium_connector_cockroachdb_spark.streaming.pipeline import (
    SNAPSHOT_MODES,
    CDCPipeline,
    IngestConfig,
)


def mk(**kw):
    base = dict(log_dir="/tmp/x", table_path="/tmp/y")
    base.update(kw)
    return IngestConfig(**base)


def test_all_snapshot_modes_accepted():
    for m in SNAPSHOT_MODES:
        kw = {"custom_snapshotter": lambda sp, cfg: None} if m == "custom" else {}
        assert mk(snapshot_mode=m, **kw).snapshot_mode == m


def test_invalid_snapshot_mode_rejected():
    with pytest.raises(ValueError, match="snapshot.mode"):
        mk(snapshot_mode="sometimes")


def test_invalid_merge_mode_rejected():
    with pytest.raises(ValueError, match="merge_mode"):
        mk(merge_mode="upsertish")


def test_invalid_drift_mode_rejected():
    with pytest.raises(ValueError, match="drift_mode"):
        mk(drift_mode="lazy")


def test_streaming_requires_checkpoint(spark, tmp_path):
    from debezium_connector_cockroachdb_spark.sources.generator import GeneratorConfig, write_log

    log = str(tmp_path / "log")
    write_log(spark, GeneratorConfig(num_keys=5, num_events=20, n_files=1), log)
    pipe = CDCPipeline(spark, mk(log_dir=log, table_path=str(tmp_path / "t"), checkpoint_dir=None))
    with pytest.raises(ValueError, match="checkpoint_dir"):
        pipe.start_stream()


def test_kafka_source_gates_without_package(spark, tmp_path):
    """S3: the Kafka consumer path exists but must fail with an actionable
    message when the spark-sql-kafka jar is absent (this image)."""
    from debezium_connector_cockroachdb_spark.sources.generator import GeneratorConfig, write_log

    log = str(tmp_path / "log")
    write_log(spark, GeneratorConfig(num_keys=5, num_events=20, n_files=1), log)
    pipe = CDCPipeline(
        spark,
        mk(log_dir=log, table_path=str(tmp_path / "t"),
           checkpoint_dir=str(tmp_path / "ck"),
           source_format="kafka",
           source_options={"kafka.bootstrap.servers": "localhost:9092", "subscribe": "t"}),
    )
    with pytest.raises(Exception, match="kafka"):
        pipe.start_stream()


def _mk_table(spark, tmp_path, **cfg_kw):
    from debezium_connector_cockroachdb_spark.sources.generator import GeneratorConfig, write_log

    log = str(tmp_path / "log")
    write_log(spark, GeneratorConfig(num_keys=5, num_events=20, n_files=1), log)
    base = dict(log_dir=log, table_path=str(tmp_path / "t"), num_buckets=4)
    base.update(cfg_kw)
    CDCPipeline(spark, mk(**base))  # creates the table
    return base


def test_resume_rejects_pk_mismatch(spark, tmp_path):
    """X1 fail-fast: resuming with a different pk silently re-buckets —
    refuse, like the reference refuses changefeed reuse with wrong options
    (…StreamingChangeEventSource.java:455-481)."""
    base = _mk_table(spark, tmp_path)
    with pytest.raises(ValueError, match="pk_name"):
        CDCPipeline(spark, mk(**{**base, "pk_name": "n_tok"}))


def test_resume_rejects_bucket_mismatch(spark, tmp_path):
    base = _mk_table(spark, tmp_path)
    with pytest.raises(ValueError, match="num_buckets"):
        CDCPipeline(spark, mk(**{**base, "num_buckets": 8}))


def test_resume_rejects_merge_mode_mismatch(spark, tmp_path):
    base = _mk_table(spark, tmp_path)
    with pytest.raises(ValueError, match="merge_mode"):
        CDCPipeline(spark, mk(**{**base, "merge_mode": "mor"}))


def test_resume_accepts_identical_config(spark, tmp_path):
    base = _mk_table(spark, tmp_path)
    CDCPipeline(spark, mk(**base))  # no raise


def test_custom_snapshot_mode_requires_snapshotter():
    with pytest.raises(ValueError, match="custom_snapshotter"):
        mk(snapshot_mode="custom")


def test_custom_snapshotter_drives_initial_scan(spark, tmp_path):
    """snapshot.mode=custom (CockroachDBConnectorConfig.java:600-603): the
    pluggable snapshotter decides what the initial scan reads — here a
    filtered subset — and runs exactly once."""
    from debezium_connector_cockroachdb_spark.sources.generator import (
        GeneratorConfig,
        seed_table,
        write_log,
    )

    log = str(tmp_path / "log")
    gcfg = GeneratorConfig(num_keys=10, num_events=20, n_files=1)
    write_log(spark, gcfg, log)

    def snapshotter(sp, cfg):
        from pyspark.sql import functions as F
        return seed_table(sp, gcfg).filter(F.col("doc_id") <= "doc-00000002")

    icfg = mk(log_dir=log, table_path=str(tmp_path / "t"), num_buckets=4,
              snapshot_mode="custom", custom_snapshotter=snapshotter)
    pipe = CDCPipeline(spark, icfg)
    pipe.run_snapshot(None)
    assert pipe.read_state().count() == 3
    assert pipe.run_snapshot(None) is None  # idempotent: runs once


def test_heartbeat_rows_on_idle_continuous_trigger(spark, tmp_path):
    """W3 heartbeat.interval.ms: a continuous-trigger stream with a fully
    drained source emits heartbeat lineage rows carrying the frontier."""
    import time as _t

    from debezium_connector_cockroachdb_spark.sources.generator import GeneratorConfig, write_log

    log = str(tmp_path / "log")
    write_log(spark, GeneratorConfig(num_keys=5, num_events=40, n_files=1), log)
    icfg = mk(log_dir=log, table_path=str(tmp_path / "t"), num_buckets=4,
              metrics_path=str(tmp_path / "m"), checkpoint_dir=str(tmp_path / "c"),
              heartbeat_interval_ms=200)
    pipe = CDCPipeline(spark, icfg)
    q = pipe.start_stream(available_now=False, trigger_seconds=0.3)
    try:
        # generous deadline: heartbeats only start once the initial batch
        # drains, and this shared host's batch wall stretches 3-4x under
        # neighbor load (observed: 1 heartbeat in 30 s on a slow window)
        deadline = _t.time() + 90
        hb = 0
        while _t.time() < deadline:
            _t.sleep(1.0)
            try:
                hb = pipe.read_metrics().filter("phase = 'heartbeat'").count()
            except Exception:
                hb = 0
            if hb >= 2:
                break
        assert hb >= 2, "expected heartbeat lineage rows on idle triggers"
    finally:
        q.stop()
        pipe.detach_heartbeat_listener()


def test_kafka_composite_seq_envelope(spark):
    """The (partition, offset) -> seq fold: documented envelope holds
    exactly (unique, order-preserving), and inputs outside it fail LOUDLY
    instead of silently truncating into colliding seqs."""
    import pytest
    from pyspark.sql import functions as F

    from debezium_connector_cockroachdb_spark.streaming.pipeline import (
        KAFKA_MAX_OFFSET,
        KAFKA_MAX_PARTITIONS,
        kafka_composite_seq,
    )

    rows = [(0, 0), (0, 1), (1, 0), (4095, 0), (7, KAFKA_MAX_OFFSET - 1)]
    df = spark.createDataFrame(rows, "partition int, offset long")
    got = [
        r["seq"]
        for r in df.select(
            kafka_composite_seq(F.col("offset"), F.col("partition")).alias("seq")
        ).collect()
    ]
    assert len(set(got)) == len(rows)  # unique across partitions
    # strictly monotone in offset within a partition
    assert got[1] > got[0]
    # boundary values land inside the envelope
    assert all(g >= 0 for g in got)

    for bad in [(KAFKA_MAX_PARTITIONS, 0), (0, KAFKA_MAX_OFFSET), (-1, 0), (0, -1)]:
        bad_df = spark.createDataFrame([bad], "partition int, offset long")
        with pytest.raises(Exception, match="composite-seq envelope"):
            bad_df.select(
                kafka_composite_seq(F.col("offset"), F.col("partition")).alias("seq")
            ).collect()


def test_kafka_record_mapping_end_to_end(spark):
    """The full Kafka ConsumerRecord → RAW_LOG_SCHEMA mapping (binary
    key/value decode, millis timestamp, composite seq), then THROUGH the
    envelope parser — proving records delivered by the (jar-gated) Kafka
    reader would flow the whole pipeline unchanged."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from debezium_connector_cockroachdb_spark.functions.converters import ColumnSpec
    from debezium_connector_cockroachdb_spark.sources.envelope import (
        RAW_LOG_SCHEMA,
        parse_changefeed,
    )
    from debezium_connector_cockroachdb_spark.streaming.pipeline import map_kafka_records

    ts = datetime.datetime(2026, 1, 2, 3, 4, 5, 250000)
    val = (
        '{"after":{"id":7,"name":"x"},"op":"c",'
        '"source":{"table_name":"t","ts_hlc":"1000.0000000000"}}'
    )
    rows = [
        ("crdb.public.t", 3, 42, ts, bytearray(b'["7"]'), bytearray(val, "utf8")),
        ("crdb.public.t", 3, 43, ts, bytearray(b'["8"]'), None),  # tombstone
    ]
    schema = T.StructType([
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
    ])
    raw = map_kafka_records(spark.createDataFrame(rows, schema))
    assert raw.schema == RAW_LOG_SCHEMA or [f.name for f in raw.schema.fields] == [
        f.name for f in RAW_LOG_SCHEMA.fields
    ]
    got = {r["offset"]: r for r in raw.collect()}
    assert set(got) == {(42 << 12) + 3, (43 << 12) + 3}
    assert got[(42 << 12) + 3]["value"] == val
    assert got[(42 << 12) + 3]["ts_ms"] == int(ts.timestamp() * 1000)

    specs = [ColumnSpec("id", "INT8", nullable=False), ColumnSpec("name", "STRING")]
    parsed = {r["seq"]: r for r in parse_changefeed(raw, specs, "id").collect()}
    data = parsed[(42 << 12) + 3]
    assert data["op"] == "c" and data["pk"] == 7 and data["after"]["name"] == "x"
    assert data["commit_wall_ns"] == 1000 and data["table_name"] == "t"
    assert parsed[(43 << 12) + 3]["is_control"]  # tombstone routed as control


def test_kafka_soak_surrogate_state_equivalence(spark, tmp_path):
    """Kafka-mode soak minus the broker: the SAME generated changefeed log
    (dups, tombstones, resolved rows, mid-stream schema evolution) is
    replayed twice — once through the parquet streaming source, once
    re-encoded as binary ConsumerRecord rows through map_kafka_records and
    applied batch-by-batch — and the final table states must be
    row-identical under token-array equality. This pins the entire
    Kafka-mode dataflow (binary key/value decode, millis timestamps,
    composite-seq fold, parse, dedup, merge, evolution); the only
    untested residue is the spark-sql-kafka jar itself (absent here)."""
    from pyspark.sql import functions as F

    from debezium_connector_cockroachdb_spark.sources.generator import (
        GeneratorConfig,
        seed_table,
        write_log,
    )
    from debezium_connector_cockroachdb_spark.streaming.pipeline import map_kafka_records

    log = str(tmp_path / "log")
    gcfg = GeneratorConfig(num_keys=60, num_events=1500, resolved_every=200,
                           n_files=4, dup_pct=5, tombstone_pct=40,
                           evolve_at=700, hot_key_pct=10)
    write_log(spark, gcfg, log)

    def run_parquet():
        icfg = IngestConfig(log_dir=log, table_path=str(tmp_path / "t_parquet"),
                            checkpoint_dir=str(tmp_path / "ckpt"),
                            num_buckets=8, max_files_per_trigger=2)
        pipe = CDCPipeline(spark, icfg)
        pipe.run_to_completion(seed_df=seed_table(spark, gcfg))
        return pipe

    def run_kafka_shaped():
        # re-encode the log as ConsumerRecord rows: binary key/value,
        # timestamp-typed, per-record (partition, offset) — the global log
        # offset is a valid Kafka offset (monotone, < 2^51), and the
        # composite fold keeps the total order because the offset occupies
        # the high bits
        consumer_shaped = spark.read.parquet(log).select(
            "topic", "partition", "offset",
            F.timestamp_millis(F.col("ts_ms")).alias("timestamp"),
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
        mapped = map_kafka_records(consumer_shaped)
        icfg = IngestConfig(log_dir=log, table_path=str(tmp_path / "t_kafka"),
                            num_buckets=8)
        pipe = CDCPipeline(spark, icfg)
        pipe.run_snapshot(seed_table(spark, gcfg))
        # three micro-batches split on the raw offset ranges (batch
        # boundaries deliberately differ from the parquet path's
        # file-count trigger — state equivalence must not depend on them).
        # Bounds come from the actual log extent: dups/tombstones/resolved
        # rows get offsets past num_events.
        max_off = spark.read.parquet(log).agg(F.max("offset")).first()[0]
        step = max_off // 3 + 1
        bounds = [0, step, 2 * step, max_off + 1]
        for i in range(3):
            batch = mapped.filter(
                (F.col("offset") >= (bounds[i] << 12))
                & (F.col("offset") < (bounds[i + 1] << 12))
            )
            pipe.process_batch(batch, batch_id=i)
        return pipe

    a = run_parquet()
    b = run_kafka_shaped()
    cols = [f.name for f in a.table.schema.fields]
    rows_a = sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in a.read_state().select(*cols).collect()
    )
    rows_b = sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in b.read_state().select(*cols).collect()
    )
    assert rows_a and rows_a == rows_b


def test_json_source_format_state_equivalence(spark, tmp_path):
    """source_format='json': the same log serialized as JSONL (the
    reference's native wire shape — envelope as an escaped string in
    `value`) must replay to the identical final state as the parquet
    source, including the registry-driven schema evolution (the `_schema`
    dir is invisible to the source by the underscore convention)."""
    import shutil

    from debezium_connector_cockroachdb_spark.sources.generator import (
        GeneratorConfig,
        seed_table,
        write_log,
    )

    log = str(tmp_path / "log")
    gcfg = GeneratorConfig(num_keys=40, num_events=800, resolved_every=150,
                           n_files=3, dup_pct=5, tombstone_pct=40, evolve_at=400)
    write_log(spark, gcfg, log)

    jlog = str(tmp_path / "jlog")
    spark.read.parquet(log).write.json(jlog)
    shutil.copytree(f"{log}/_schema", f"{jlog}/_schema")

    states = {}
    for fmt, src in (("parquet", log), ("json", jlog)):
        icfg = IngestConfig(log_dir=src, table_path=str(tmp_path / f"t_{fmt}"),
                            checkpoint_dir=str(tmp_path / f"ckpt_{fmt}"),
                            num_buckets=8, max_files_per_trigger=2,
                            source_format=fmt)
        pipe = CDCPipeline(spark, icfg)
        pipe.run_to_completion(seed_df=seed_table(spark, gcfg))
        cols = [f.name for f in pipe.table.schema.fields]
        states[fmt] = sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in pipe.read_state().select(*cols).collect()
        )
    assert states["parquet"] and states["parquet"] == states["json"]


def test_unknown_source_format_rejected(spark, tmp_path):
    from debezium_connector_cockroachdb_spark.sources.generator import GeneratorConfig, write_log

    log = str(tmp_path / "log")
    write_log(spark, GeneratorConfig(num_keys=5, num_events=20, n_files=1), log)
    icfg = IngestConfig(log_dir=log, table_path=str(tmp_path / "t"),
                        checkpoint_dir=str(tmp_path / "c"), source_format="csv")
    with pytest.raises(ValueError, match="source_format"):
        CDCPipeline(spark, icfg).start_stream(available_now=True)


def test_mid_partition_resume_stored_plus_one(spark, tmp_path):
    """Mid-partition resume surrogate (dbz#2154 analogue,
    CockroachDBStreamingChangeEventSource.java:526-542 rebalance seek,
    CockroachDBRestartResumeIT.java:119-186): a consumer dies mid-batch
    with its three topic-partitions at UNEVEN positions; on
    restart/reassignment each partition must resume at its own stored
    offset + 1 — nothing re-emitted, nothing skipped — and redelivery of
    an already-committed batch must be an idempotent no-op. The final
    table state equals a one-shot replay of the same records.

    Kafka shape is faithful: records are keyed to partitions by primary
    key (same key -> same partition -> per-key order preserved, exactly
    the connector's producer contract) and each partition carries its own
    contiguous offset sequence starting at 0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from debezium_connector_cockroachdb_spark.sources.generator import (
        GeneratorConfig,
        seed_table,
        write_log,
    )
    from debezium_connector_cockroachdb_spark.streaming.pipeline import map_kafka_records

    log = str(tmp_path / "log")
    gcfg = GeneratorConfig(num_keys=50, num_events=1200, resolved_every=200,
                           n_files=3, dup_pct=5, tombstone_pct=40, hot_key_pct=10)
    write_log(spark, gcfg, log)

    # key-hash partitioning into 3 partitions + per-partition offset
    # renumbering (row_number over the global-order window; test-scale only)
    n_parts = 3
    w = Window.partitionBy("_p").orderBy("offset")
    consumer = (
        spark.read.parquet(log)
        .withColumn("_p", F.pmod(F.xxhash64(F.coalesce("key", "topic")), F.lit(n_parts)).cast("int"))
        .withColumn("_poff", F.row_number().over(w).cast("long") - 1)
        .select(
            "topic", F.col("_p").alias("partition"), F.col("_poff").alias("offset"),
            F.timestamp_millis(F.col("ts_ms")).alias("timestamp"),
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
    )
    mapped = map_kafka_records(consumer)

    counts = {r["partition"]: r["n"] for r in
              consumer.groupBy("partition").agg(F.count("*").alias("n")).collect()}
    assert len(counts) == n_parts
    # the crash leaves each partition at a different position (committed
    # offsets 60% / 30% / 80% through the partition)
    stored = {p: int(counts[p] * frac) - 1 for p, frac in zip(sorted(counts), (0.6, 0.3, 0.8))}

    def part_filter(df, lo_excl: dict, hi_incl: dict | None):
        cond = F.lit(False)
        for p in sorted(counts):
            # composite seq = (partition_offset << 12) + partition
            lo = (lo_excl[p] + 1) << 12
            c = (F.col("partition_id") == p) & (F.col("offset") >= lo + p)
            if hi_incl is not None:
                c = c & (F.col("offset") <= ((hi_incl[p] << 12) + p))
            cond = cond | c
        return df.filter(cond)

    tagged = mapped.withColumn("partition_id", F.col("offset") % (1 << 12))
    batch0 = part_filter(tagged, {p: -1 for p in counts}, stored).drop("partition_id")
    batch1 = part_filter(tagged, stored, None).drop("partition_id")

    icfg = IngestConfig(log_dir=log, table_path=str(tmp_path / "t_resume"),
                        num_buckets=8)
    pipe = CDCPipeline(spark, icfg)
    pipe.run_snapshot(seed_table(spark, gcfg))
    s0 = pipe.process_batch(batch0, batch_id=0)

    # crash + rebalance: a redelivery of the committed batch (same epoch)
    # must not double-apply — batch_key idempotence
    s_redeliver = pipe.process_batch(batch0, batch_id=0)
    assert s_redeliver.get("skipped") is True

    # resume: every partition continues from ITS stored offset + 1
    s1 = pipe.process_batch(batch1, batch_id=1)

    # zero re-emission / zero loss: the two batches partition the record set
    seqs0 = {r["offset"] for r in batch0.select("offset").collect()}
    seqs1 = {r["offset"] for r in batch1.select("offset").collect()}
    all_seqs = {r["offset"] for r in mapped.select("offset").collect()}
    assert seqs0.isdisjoint(seqs1)
    assert seqs0 | seqs1 == all_seqs
    assert int(s0["n_raw"]) + int(s1["n_raw"]) == len(all_seqs)
    # per-partition resume floor is exactly stored+1 (no seek-to-earlier)
    for p in counts:
        lo = min((s >> 12) for s in seqs1 if s % (1 << 12) == p)
        assert lo == stored[p] + 1

    # one-shot replay of the same kafka-shaped records = identical state
    icfg2 = IngestConfig(log_dir=log, table_path=str(tmp_path / "t_oneshot"),
                         num_buckets=8)
    ref = CDCPipeline(spark, icfg2)
    ref.run_snapshot(seed_table(spark, gcfg))
    ref.process_batch(mapped, batch_id=0)
    cols = [f.name for f in pipe.table.schema.fields]
    norm = lambda pp: sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in pp.read_state().select(*cols).collect()
    )
    assert norm(pipe) and norm(pipe) == norm(ref)


def test_driver_memory_default_clamps_to_1_and_8_gib():
    from debezium_connector_cockroachdb_spark.session import driver_memory_mb

    gib_kb = 1024 * 1024
    assert driver_memory_mb(2 * gib_kb) == 1024  # a quarter is 512 MiB: floor
    assert driver_memory_mb(16 * gib_kb) == 4096  # a quarter
    assert driver_memory_mb(256 * gib_kb) == 8192  # a quarter is 64 GiB: ceiling
    assert 1024 <= driver_memory_mb() <= 8192  # MemTotal from /proc/meminfo
