"""The CDC ingest pipeline (SURVEY.md §3 Spark mapping).

Reference lifecycle (CockroachDBConnectorTask.start → coordinator →
snapshot source → streaming source → dispatcher → queue → poll,
CockroachDBConnectorTask.java:79-189): here a snapshot *batch* phase
(initial scan, op='r' — W4) followed by a checkpointed Structured Streaming
phase whose every micro-batch runs:

    drift check + schema evolution, before the parse   [E1 E2 E3]
    → parse (one from_json pass)                        [P1 P2 C1-C15 D2]
    → control/data split, frontier advance              [F1 F2 W1 W3]
    → per-key last-writer-wins arg-max                  [D1]
    → MERGE: delta write + commit, then compaction      [§2.5, W5]
    → lineage/metrics row                               [§2.6]

Exactly-once = checkpointed source offsets (W2) + batch_key idempotence in
the snapshot table + the commit-ts merge guard; re-running any micro-batch
yields byte-identical table state.
"""

from __future__ import annotations

import functools
import glob
import json
import logging
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.converters import ColumnSpec, spark_output_type
from ..functions.hlc import hlc_logical, hlc_wall_ns
from ..operators.dedup import dedupe_batch
from ..session import observed
from ..sources.envelope import RAW_LOG_SCHEMA, parse_changefeed
from ..sources.lake import SnapshotTable

log = logging.getLogger(__name__)

# max poison offsets collected to the driver per batch (~800 KB of longs);
# beyond this the quarantine write re-derives is_malformed executor-side
_BAD_SEQ_CAP = 100_000

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("phase", T.StringType(), False),
        T.StructField("table_version", T.LongType(), True),
        T.StructField("n_raw", T.LongType(), True),
        T.StructField("n_control", T.LongType(), True),
        T.StructField("n_data", T.LongType(), True),
        T.StructField("n_malformed", T.LongType(), True),
        T.StructField("n_keyless", T.LongType(), True),
        T.StructField("n_updates", T.LongType(), True),
        T.StructField("min_seq", T.LongType(), True),
        T.StructField("max_seq", T.LongType(), True),
        T.StructField("touched_buckets", T.LongType(), True),
        T.StructField("frontier_hlc", T.StringType(), True),
        T.StructField("skipped_replay", T.BooleanType(), True),
        T.StructField("compact_secs", T.DoubleType(), True),
        T.StructField("wall_ms", T.DoubleType(), True),
        T.StructField("committed_at", T.DoubleType(), True),
    ]
)

SNAPSHOT_MODES = {"initial", "always", "never", "no_data", "initial_only", "when_needed", "custom"}


@dataclass
class IngestConfig:
    """Connector-config analogue (CockroachDBConnectorConfig). Only the
    knobs that drive dataflow decisions are modeled; Kafka security/TLS
    passthrough (X6) is source-option passthrough in Spark and needs no
    code."""

    log_dir: str
    table_path: str
    pk_name: str = "doc_id"
    metrics_path: str | None = None
    checkpoint_dir: str | None = None
    num_buckets: int = 16
    snapshot_mode: str = "initial"  # CockroachDBConnectorConfig.java:561-656
    max_files_per_trigger: int | None = None
    snapshot_wall_ns: int = 0  # commit-ts assigned to op='r' backfill rows
    errors_path: str | None = None  # dead-letter quarantine for poison events (X3)
    merge_mode: str = "cow"  # "cow" (read-optimized) | "mor" (write-optimized)
    mor_max_deltas_per_bucket: int = 8
    # size-ratio gate on MoR auto-compaction (see
    # lake.SnapshotTable.compact_min_delta_ratio; ratio 0 reproduces the
    # pure file-count trigger)
    mor_compact_min_delta_ratio: float = 0.2
    # "poll": check the schema registry's version once per micro-batch
    #   (O(1) driver-side; evolving one batch early is safe — add-column and
    #   widen are backward compatible, pre-DDL rows null-fill either way).
    # "exact": reference-faithful field comparison — every batch first
    #   collects its distinct raw after-image key sets (one extra pass over
    #   `value`, before the parse); unknown fields not in the registry
    #   fail the batch retriably (dbz#2322).
    drift_mode: str = "poll"
    # source format: "parquet" replay log (default), "json" (JSONL records
    # with the same RAW_LOG_SCHEMA — the reference's native wire shape),
    # or "kafka" (the reference's S3 consumer path — requires the
    # spark-sql-kafka package on the classpath, which this image does not
    # ship; options pass through, e.g. {"kafka.bootstrap.servers": ...,
    # "subscribe": ..., "kafka.ssl.*": ...} — the X6 security passthrough)
    source_format: str = "parquet"
    source_options: dict[str, str] = field(default_factory=dict)
    # snapshot.mode="custom": pluggable snapshotter producing the initial-
    # scan DataFrame (CockroachDBConnectorConfig.java:600-603 analogue);
    # called as fn(spark, cfg) -> DataFrame | None
    custom_snapshotter: Any = None
    # heartbeat.interval.ms (…StreamingChangeEventSource.java:556-559): in
    # continuous-trigger mode, idle triggers older than this emit a
    # heartbeat lineage row so frontier/offset progress stays observable
    # without data. None disables.
    heartbeat_interval_ms: int | None = None

    def __post_init__(self) -> None:
        if self.snapshot_mode not in SNAPSHOT_MODES:
            raise ValueError(f"unknown snapshot.mode {self.snapshot_mode!r}")
        if self.snapshot_mode == "custom" and self.custom_snapshotter is None:
            raise ValueError("snapshot.mode='custom' requires custom_snapshotter")
        if self.merge_mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge_mode {self.merge_mode!r}")
        if self.drift_mode not in ("poll", "exact"):
            raise ValueError(f"unknown drift_mode {self.drift_mode!r}")


KAFKA_MAX_PARTITIONS = 4096          # 12 low bits of the composite seq
KAFKA_MAX_OFFSET = 1 << 51           # offsets shift into the high 51 bits


def kafka_composite_seq(offset: F.Column, partition: F.Column) -> F.Column:
    """Globally-unique, order-preserving seq from a Kafka (partition,
    offset) pair: offset into the high 51 bits, partition into the low 12
    (the consumer-offset composite, CockroachDBOffsetContext.java:37-53).
    Within a partition the composite is strictly monotone in offset, so
    per-key commit-tuple ordering (which only ever compares events of one
    key, produced to one partition) is preserved.

    Inputs OUTSIDE the envelope (partition ≥ 4096 or offset ≥ 2^51) would
    silently collide after truncation — that corrupts dedup identity, so
    the fold fails the task loudly instead (JVM-side raise_error; no
    silent wraparound)."""
    p = partition.cast("long")
    o = offset.cast("long")
    ok = (p >= 0) & (p < KAFKA_MAX_PARTITIONS) & (o >= 0) & (o < KAFKA_MAX_OFFSET)
    return F.when(ok, F.shiftleft(o, 12) + p).otherwise(
        F.raise_error(
            F.concat(
                F.lit("kafka (partition, offset) outside the composite-seq envelope "
                      f"(partition < {KAFKA_MAX_PARTITIONS}, offset < 2^51): partition="),
                p.cast("string"), F.lit(" offset="), o.cast("string"),
            )
        )
    )


def map_kafka_records(df: DataFrame) -> DataFrame:
    """ConsumerRecord-shaped rows (topic, partition, offset, timestamp,
    binary key/value) → RAW_LOG_SCHEMA, so everything downstream of the
    source is format-agnostic. Separated from the (jar-gated) Kafka
    reader so the mapping — seq fold, binary→string casts, timestamp
    millis — is unit-testable without a broker."""
    return df.select(
        F.col("topic"),
        F.col("partition"),
        kafka_composite_seq(F.col("offset"), F.col("partition")).alias("offset"),
        F.unix_millis(F.col("timestamp")).alias("ts_ms"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def load_registry_specs(log_dir: str) -> tuple[int, list[ColumnSpec]]:
    """Latest schema descriptor from the log's ``_schema`` registry — the
    information_schema re-read analogue (CockroachDBSchema.java:62-89)."""
    files = sorted(glob.glob(os.path.join(log_dir, "_schema", "v*.json")))
    if not files:
        raise FileNotFoundError(f"no schema registry under {log_dir}/_schema")
    with open(files[-1]) as f:
        doc = json.load(f)
    specs = [
        ColumnSpec(
            c["name"], c["crdb_type"], nullable=c.get("nullable", True),
            default_sql=c.get("default"),
        )
        for c in doc["columns"]
    ]
    return doc["version"], specs


def registry_defaults(specs: list[ColumnSpec]) -> dict[str, Any]:
    """C14: parsed default values for columns carrying one (function-call
    defaults skipped — CockroachDBDefaultValueConverter.java:41-59)."""
    from decimal import Decimal

    from ..functions.defaults import parse_default_literal

    out: dict[str, Any] = {}
    for s in specs:
        if s.default_sql is None:
            continue
        has, v = parse_default_literal(s.default_sql, s.crdb_type)
        if has and v is not None:
            out[s.name] = str(v) if isinstance(v, Decimal) else v
    return out


def user_schema(specs: list[ColumnSpec]) -> T.StructType:
    return T.StructType([T.StructField(s.name, spark_output_type(s), True) for s in specs])


def after_key_sets(raw: DataFrame, specs: list[ColumnSpec], pk_name: str) -> list[set[str]]:
    """The drift probe (E1, hasSchemaChanged :1302-1326): the distinct
    after-image key sets of a raw batch, in one pass whose pruned plan
    reads only ``value`` (no typed ``from_json``). Deletes and control
    records have no after image and contribute no set (:826-835)."""
    keys = parse_changefeed(raw, specs, pk_name, with_drift_keys=True).select("after_keys")
    return [set(r[0]) for r in keys.where(F.col("after_keys").isNotNull()).distinct().collect()]


# (wall, logical) pack into one decimal: wall * _LOGICAL_SPAN + logical
_LOGICAL_SPAN = 10_000_000_000


def _stats_cols(with_bad_seqs: bool) -> list[Column]:
    """The batch stats (§2.6) over parsed rows: counts, offset lineage,
    the resolved frontier and, with a dead-letter table, the poison
    offsets. ``process_batch`` observes them on its one parse pass and
    aggregates them directly when the observation is not posted."""
    cols = [
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("is_control"), 1).otherwise(0)).alias("n_control"),
        F.sum(F.when(F.col("is_malformed"), 1).otherwise(0)).alias("n_malformed"),
        F.sum(F.when(~F.col("is_control") & F.col("pk").isNull(), 1).otherwise(0)).alias("n_keyless"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        # one decimal, not a struct — struct-typed observe metrics crash
        # the py4j row bridge when null
        F.max(
            F.when(
                F.col("resolved").isNotNull(),
                hlc_wall_ns(F.col("resolved")).cast("decimal(38,0)")
                * F.lit(_LOGICAL_SPAN).cast("decimal(38,0)")
                + hlc_logical(F.col("resolved")).cast("decimal(38,0)"),
            )
        ).alias("fr_enc"),
    ]
    if with_bad_seqs:
        # poison offsets (X3), capped at _BAD_SEQ_CAP longs (~800 KB): the
        # cap bounds the RETAINED result the driver keeps, but each task
        # still ships its full partial collect_list before the slice is
        # applied, so a pathological fully-poisoned 10^7-row batch can
        # transiently move ~80 MB of offsets — accepted because such
        # batches are quarantine-path anomalies, and the healthy-batch
        # cost is zero (the list is empty). Overflow is detected via
        # n_malformed and the quarantine write falls back to a
        # parse-filter pass.
        cols.append(
            F.slice(F.collect_list(F.when(F.col("is_malformed"), F.col("seq"))), 1, _BAD_SEQ_CAP)
            .alias("bad_seqs")
        )
    return cols


def _decode_frontier(enc: Any) -> str | None:
    """``fr_enc`` → the canonical ``<wall>.<10-digit logical>`` HLC."""
    if enc is None:
        return None
    wall, logical = divmod(int(enc), _LOGICAL_SPAN)
    return f"{wall}.{logical:010d}"


class CDCPipeline:
    def __init__(self, spark: SparkSession, cfg: IngestConfig):
        self.spark = spark
        self.cfg = cfg
        self.registry_version, self.specs = load_registry_specs(cfg.log_dir)
        if SnapshotTable.exists(cfg.table_path):
            self.table = SnapshotTable.load(cfg.table_path)
            # X1 resume-compatibility fail-fast: refuse to resume against a
            # table created under incompatible physical config — the
            # analogue of the reference refusing to reuse a changefeed with
            # a non-enriched envelope / missing diff option
            # (CockroachDBStreamingChangeEventSource.java:455-481; IT
            # CockroachDBRegressionScenariosIT "diff-option reuse").
            mismatches = []
            if self.table.pk_col != cfg.pk_name:
                mismatches.append(f"pk_name: table={self.table.pk_col!r} config={cfg.pk_name!r}")
            if self.table.meta["num_buckets"] != cfg.num_buckets:
                mismatches.append(
                    f"num_buckets: table={self.table.meta['num_buckets']} config={cfg.num_buckets}"
                )
            if self.table.merge_mode != cfg.merge_mode:
                mismatches.append(
                    f"merge_mode: table={self.table.merge_mode!r} config={cfg.merge_mode!r}"
                )
            if mismatches:
                raise ValueError(
                    "incompatible resume: existing table at "
                    f"{cfg.table_path} was created with different physical "
                    "config (" + "; ".join(mismatches) + ") — silent resume "
                    "would bucket/merge rows inconsistently"
                )
        else:
            self.table = SnapshotTable.create(
                cfg.table_path, user_schema(self.specs), cfg.pk_name, cfg.num_buckets,
                properties={
                    "write.merge.mode": cfg.merge_mode,
                    "mor.max-deltas-per-bucket": str(cfg.mor_max_deltas_per_bucket),
                    "mor.compact-min-delta-ratio": str(cfg.mor_compact_min_delta_ratio),
                },
            )

    # ------------- snapshot phase (W4) -------------

    def run_snapshot(self, seed_df: DataFrame | None) -> dict[str, Any] | None:
        """Initial scan: the reference delegates the snapshot to the
        changefeed's ``initial_scan`` option and marks every backfill row
        op='r' (D3). Mode → action per
        getInitialScanForSnapshotMode (CockroachDBConnectorConfig.java:1208-1226)."""
        mode = self.cfg.snapshot_mode
        already = "snapshot" in self.table.meta["applied"]
        if mode in ("never", "no_data"):
            return None
        if mode in ("initial", "when_needed", "initial_only", "custom") and already:
            return None
        if mode == "custom":
            # pluggable snapshotter decides WHAT the initial scan reads
            # (filtered subset, alternate source, nothing at all)
            seed_df = self.cfg.custom_snapshotter(self.spark, self.cfg)
        if seed_df is None:
            return None
        key = "snapshot" if mode != "always" else f"snapshot:{self.table.meta['version']}"
        t0 = time.time()
        stats = self.table.merge(self.spark, self._snapshot_rows(seed_df, self.cfg.snapshot_wall_ns), key)
        self._write_metrics(-1, "snapshot", stats, extra={"wall_ms": (time.time() - t0) * 1e3})
        return stats

    def _snapshot_rows(self, df: DataFrame, wall_ns: int) -> DataFrame:
        """Source rows → op='r' update rows at commit ts (``wall_ns``, 0)
        (D3), aligned to the table schema: columns the source lacks are
        null, and seq -1 orders them before every log event."""
        return df.select(
            *[
                (F.col(f.name) if f.name in df.columns else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in self.table.schema.fields
            ],
            F.lit("r").alias("op"),
            F.lit(wall_ns).cast("long").alias("commit_wall_ns"),
            F.lit(0).cast("long").alias("commit_logical"),
            F.lit(-1).cast("long").alias("seq"),
        )

    # ------------- micro-batch apply -------------

    def _adopt(self, ver: int, specs: list[ColumnSpec]) -> None:
        """Adopt registry version ``ver``: parse under ``specs`` from now on
        and evolve the table, registering the C14 literal defaults so rows
        written before a new column read back its default."""
        self.specs = specs
        self.registry_version = ver
        self.table.evolve_schema(user_schema(specs), defaults=registry_defaults(specs))

    def _poll_registry(self) -> None:
        """drift_mode="poll": evolve when the registry advertises a newer
        schema version — one glob + json read on the driver, zero per-row
        cost. The registry is this engine's information_schema."""
        ver, specs = load_registry_specs(self.cfg.log_dir)
        if ver != self.registry_version:
            self._adopt(ver, specs)

    def _check_drift(self, raw: DataFrame) -> None:
        """drift_mode="exact", E1/E2: compare the batch's after-image field
        names against the registered schema — once per micro-batch on the
        driver, the structural win over the reference's per-event check
        (§4). Both hasSchemaChanged clauses (…java:1302-1326) are mirrored:
        a NEW field not in the table schema, or a registered NON-NULLABLE
        column absent from some event's after image (DROP COLUMN signal)
        each trigger a registry re-read. Runs before the batch is parsed,
        so backlog events convert under the refreshed schema (E3)."""
        sets = after_key_sets(raw, self.specs, self.cfg.pk_name)
        new_fields = set().union(*sets) - {f.name for f in self.table.schema.fields}
        required = {s.name for s in self.specs if not s.nullable}
        if not new_fields and not any(required - s for s in sets):
            return
        ver, specs = load_registry_specs(self.cfg.log_dir)
        if not new_fields <= {s.name for s in specs}:
            # registry doesn't know the field either → retriable failure;
            # the batch replays (E2 fail-retriable, dbz#2322)
            raise RuntimeError(
                f"schema drift: fields {sorted(new_fields)} not in registry v{ver}"
            )
        # absence of a required column without a registry change is
        # data-shape noise (e.g. partial images), not a DDL — no-op
        if new_fields or ver != self.registry_version:
            self._adopt(ver, specs)

    def process_batch(self, raw: DataFrame, batch_id: int) -> dict[str, Any]:
        # NOTE deliberately NO .persist() on the parsed batch: Spark's
        # in-memory columnar cache degrades badly on nested struct/array
        # rows (measured 1.6s parse vs 70s+ cache build, anti-scaling with
        # cores). Re-running the codegen'd parse for the second pass is far
        # cheaper and scales linearly.
        t0 = time.time()
        if self.cfg.drift_mode == "exact":
            self._check_drift(raw)
        else:
            self._poll_registry()

        # ONE Spark pass: the batch stats ride an observe() on the plan the
        # merge's write executes; the resolved frontier is read after that
        # action runs
        cols = _stats_cols(bool(self.cfg.errors_path))
        obs = Observation()
        parsed = parse_changefeed(raw, self.specs, self.cfg.pk_name, with_drift_keys=False)
        # keyless rows (no after image, no usable message key) can never be
        # merged — dropped and surfaced via metrics. Project to the
        # apply-relevant columns BEFORE dedup so the arg-max's sort and
        # shuffle never carry before-images/topic strings (payload prune).
        data = parsed.observe(obs, *cols).filter(~F.col("is_control") & F.col("pk").isNotNull()).select(
            "pk", "commit_wall_ns", "commit_logical", "seq", "op", "after"
        )
        updates = self._to_updates(dedupe_batch(data, "pk"))

        def aggregate() -> dict[str, Any]:
            # a degenerate plan can finish without running the observe node
            log.warning("batch %d: observe metrics not posted; aggregating directly", batch_id)
            return parsed.agg(*cols).collect()[0].asDict()

        @functools.cache
        def metrics() -> dict[str, Any]:
            return observed(obs, fallback=aggregate)

        stats = self.table.merge(
            self.spark, updates, batch_key=f"stream:{batch_id}",
            frontier=lambda: _decode_frontier(metrics()["fr_enc"]),
        )
        if not stats.get("skipped"):
            m = metrics()
            n_raw, n_control = int(m["n_raw"]), int(m["n_control"] or 0)
            n_malformed = int(m["n_malformed"] or 0)
            # quarantine poison records instead of killing the stream (X3 —
            # replaying a malformed byte stream never heals; dead-letter
            # table is the distributed-sane version of "retriable").
            # Offsets were collected on THE one parse pass, so this write
            # is a parse-free filter over the raw batch — a pathological
            # all-poison batch still parses exactly once.
            if self.cfg.errors_path and n_malformed > 0:
                if n_malformed > _BAD_SEQ_CAP:
                    # collected list was capped: the offsets on hand are an
                    # arbitrary subset, so re-derive is_malformed with one
                    # extra parse pass — bounded, executor-side, and only on
                    # pathological (mostly-poison) batches
                    bad_df = (
                        parse_changefeed(raw, self.specs, self.cfg.pk_name)
                        .filter(F.col("is_malformed"))
                        .select(F.col("seq").alias("offset"))
                    )
                    poison = raw.join(bad_df, "offset", "left_semi")
                else:
                    bad = sorted(int(s) for s in (m.get("bad_seqs") or []))
                    if len(bad) <= 1000:
                        poison = raw.filter(F.col("offset").isin(bad))
                    else:
                        seq_df = self.spark.createDataFrame([(s,) for s in bad], "offset long")
                        poison = raw.join(F.broadcast(seq_df), "offset", "left_semi")
                poison.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
                    self.cfg.errors_path
                )
            stats.update(
                n_raw=n_raw, n_control=n_control, n_data=n_raw - n_control,
                n_malformed=n_malformed, n_keyless=int(m["n_keyless"] or 0),
                min_seq=m["min_seq"], max_seq=m["max_seq"],
            )
        self._write_metrics(batch_id, "stream", stats, extra={"wall_ms": (time.time() - t0) * 1e3})
        return stats

    def _to_updates(self, deduped: DataFrame) -> DataFrame:
        """Winner events → merge-ready update rows (pk column always
        non-null: deletes recover it from the message key — dbz#2267,
        CockroachDBRegressionScenariosIT.java:104-137)."""
        pk = self.cfg.pk_name
        after_fields = {f.name for f in deduped.schema["after"].dataType.fields}
        cols = []
        for f in self.table.schema.fields:
            if f.name == pk:
                cols.append(F.coalesce(F.col(f"after.{pk}").cast(f.dataType), F.col("pk").cast(f.dataType)).alias(pk))
            else:
                src = F.col(f"after.{f.name}") if f.name in after_fields else F.lit(None)
                cols.append(src.cast(f.dataType).alias(f.name))
        return deduped.select(*cols, "op", "commit_wall_ns", "commit_logical", "seq")

    # ------------- streaming driver (W2, W3) -------------

    def _open_source(self) -> DataFrame:
        """The record stream (S2/S3): parquet replay log (default) or a
        Kafka topic. The Kafka path maps ConsumerRecord fields onto
        RAW_LOG_SCHEMA so everything downstream is source-agnostic; offset
        tracking/seek-on-rebalance (dbz#2154) is the Spark Kafka source's
        own checkpointed behavior."""
        if self.cfg.source_format == "kafka":
            try:
                reader = self.spark.readStream.format("kafka")
                for k, v in self.cfg.source_options.items():
                    reader = reader.option(k, v)
                kafka = reader.load()
            except Exception as e:  # jar absent in this image — clear gate
                raise RuntimeError(
                    "source_format='kafka' needs the spark-sql-kafka package "
                    "on the classpath (not shipped in this image); add "
                    "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver> "
                    "or use the parquet replay source"
                ) from e
            # Kafka offsets are only unique per partition; downstream
            # ordering/dedup needs a globally-unique seq — composite fold
            # with loud out-of-envelope failure, see map_kafka_records
            return map_kafka_records(kafka)
        reader = self.spark.readStream.schema(RAW_LOG_SCHEMA)
        if self.cfg.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.cfg.max_files_per_trigger)
        for k, v in self.cfg.source_options.items():
            reader = reader.option(k, v)
        if self.cfg.source_format == "json":
            # JSONL replay: same record schema, text wire format (the
            # envelope rides as an escaped string in `value`, exactly the
            # reference's native shape). The log's `_schema` registry is
            # invisible to the source by Spark's underscore-prefix
            # convention for metadata paths.
            return reader.json(self.cfg.log_dir)
        if self.cfg.source_format != "parquet":
            raise ValueError(f"unknown source_format {self.cfg.source_format!r}")
        return reader.parquet(self.cfg.log_dir)

    def _heartbeat(self) -> None:
        """W3 continuous-mode heartbeat: an idle trigger past the
        configured interval writes a lineage row carrying the current
        frontier — offset/frontier progress stays observable with zero
        data, the analogue of dispatching a heartbeat on idle polls
        (…StreamingChangeEventSource.java:556-559)."""
        iv = self.cfg.heartbeat_interval_ms
        now = time.time()
        if iv is None or (now - getattr(self, "_last_heartbeat", 0.0)) * 1e3 < iv:
            return
        self._last_heartbeat = now
        frontier = self.table.meta.get("frontier", {}).get("hlc")
        self._write_metrics(-2, "heartbeat", {"frontier_hlc": frontier, "skipped": False},
                            extra={"wall_ms": 0.0})

    def detach_heartbeat_listener(self) -> None:
        lst = getattr(self, "_hb_listener", None)
        if lst is not None:
            self.spark.streams.removeListener(lst)
            self._hb_listener = None

    def start_stream(self, available_now: bool = True, trigger_seconds: float | None = None):
        if not self.cfg.checkpoint_dir:
            raise ValueError("checkpoint_dir required for streaming")
        stream = self._open_source()

        def apply(df: DataFrame, batch_id: int) -> None:
            self._last_heartbeat = time.time()  # data progress resets the idle clock
            self.process_batch(df, batch_id)

        writer = stream.writeStream.foreachBatch(apply).option(
            "checkpointLocation", self.cfg.checkpoint_dir
        )
        hb_listener = None
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
            if self.cfg.heartbeat_interval_ms is not None:
                from pyspark.sql.streaming import StreamingQueryListener

                pipe = self

                class _Heartbeat(StreamingQueryListener):
                    """Session-global listener scoped to ONE query: idle
                    events are filtered on the started query's id (other
                    streaming queries in the session must not trigger this
                    pipeline's heartbeat), and the listener detaches itself
                    when that query terminates (repeated start_stream calls
                    must not stack leaked listeners)."""

                    query_id: str | None = None

                    def onQueryStarted(self, event):  # noqa: N802
                        pass

                    def onQueryProgress(self, event):  # noqa: N802
                        pass

                    def onQueryIdle(self, event):  # noqa: N802
                        if self.query_id is not None and str(event.id) == self.query_id:
                            pipe._heartbeat()

                    def onQueryTerminated(self, event):  # noqa: N802
                        if self.query_id is not None and str(event.id) == self.query_id:
                            pipe.spark.streams.removeListener(self)
                            if getattr(pipe, "_hb_listener", None) is self:
                                pipe._hb_listener = None

                self._last_heartbeat = time.time()
                hb_listener = _Heartbeat()
        q = writer.start()
        if hb_listener is not None:
            # register only after start(), with the query id already set —
            # a listener registered before the id is known can see the
            # query terminate while query_id is still None, skip its
            # self-detach, and leak session-globally. The attach-then-check
            # below closes the remaining window: a query that died between
            # start() and addListener() delivers no termination event to
            # this listener, so detach it explicitly.
            hb_listener.query_id = str(q.id)
            self._hb_listener = hb_listener
            self.spark.streams.addListener(hb_listener)
            if not q.isActive:
                self.detach_heartbeat_listener()
        return q

    def run_to_completion(self, seed_df: DataFrame | None = None) -> None:
        """Snapshot phase then drain the log (the task-start wiring, X7)."""
        self.run_snapshot(seed_df)
        if self.cfg.snapshot_mode == "initial_only":
            return  # …StreamingChangeEventSource.java:584-589 stop-after-scan
        q = self.start_stream(available_now=True)
        q.awaitTermination()

    # ------------- lineage (§2.6 aggregations) -------------

    def _write_metrics(self, batch_id: int, phase: str, stats: dict[str, Any], extra: dict[str, Any]) -> None:
        if not self.cfg.metrics_path:
            return
        row = {f.name: None for f in METRICS_SCHEMA.fields}
        row.update(batch_id=batch_id, phase=phase, committed_at=time.time())
        row["table_version"] = stats.get("version")
        row["skipped_replay"] = bool(stats.get("skipped", False))
        for k in ("n_raw", "n_control", "n_data", "n_malformed", "n_keyless", "n_updates", "min_seq", "max_seq",
                  "touched_buckets"):
            if stats.get(k) is not None:
                row[k] = int(stats[k])
        row["frontier_hlc"] = stats.get("frontier_hlc")
        if stats.get("compact_secs") is not None:
            row["compact_secs"] = float(stats["compact_secs"])
        row["wall_ms"] = extra.get("wall_ms")
        # written driver-side with pyarrow: a lineage row must not cost a
        # Spark job per micro-batch (it did — ~0.5s of the batch floor)
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.cfg.metrics_path, exist_ok=True)
        pa_types = {
            "bigint": pa.int64(), "string": pa.string(),
            "boolean": pa.bool_(), "double": pa.float64(),
        }
        pa_schema = pa.schema(
            [(f.name, pa_types[f.dataType.simpleString()]) for f in METRICS_SCHEMA.fields]
        )
        tbl = pa.Table.from_pylist([row], schema=pa_schema)
        pq.write_table(tbl, os.path.join(self.cfg.metrics_path, f"b{batch_id}-{_uuid.uuid4().hex}.parquet"))

    def read_metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(self.cfg.metrics_path)

    def read_state(self) -> DataFrame:
        # re-load to see the latest committed snapshot
        self.table = SnapshotTable.load(self.cfg.table_path)
        return self.table.read_state(self.spark)

