"""Driver-contract queries: (spark_fn, oracle_sql) pairs.

Every operator claimed done in SURVEY.md §2 appears here expressed over the
driver's parquet tables (events/orders/customer/documents/embeddings), with
a DuckDB-runnable ANSI-SQL oracle producing identical columns and values.

Portability rules learned the hard way (see functions/hashing.py):
  * shared hashes go through md5 (identical hex on both engines); the first
    12 hex chars fold to a 48-bit bigint with exact integer arithmetic;
  * no raw unordered float sums in outputs — either the doubles come
    straight from parquet (bit-identical) or they are rounded after a
    deterministic sequential reduction;
  * timestamps leave as epoch micros (bigint), never engine-native types.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import MD5_48_DUCKDB_TEMPLATE, MINHASH_A, MINHASH_B, MINHASH_P, md5_48
from ..functions.hlc import hlc_logical, hlc_wall_ns
from ..operators import components, multimodal, similarity, text, text_dedup
from ..operators.dedup import argmax_rows
from ..sources.lake import SnapshotTable

QueryFn = Callable[[SparkSession, str], DataFrame]

# op classification used by the CDC-over-events queries (D2 analogue: a
# fixed event_type → op mapping, CASE-expressible on both engines)
OP_CASE_SQL = (
    "CASE WHEN event_type = 'signup' THEN 'c' "
    "WHEN event_type = 'error' THEN 'd' ELSE 'u' END"
)


_WORK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "_work"
)


# /dev/shm must have more than this many times a stage's input bytes free
# before the stage goes there: tmpfs pages are RAM, and the stages built
# from `documents` (shingles, signatures, stream-dedup batches and runs)
# add up to ~12x its parquet bytes at sf0.01
_TMPFS_HEADROOM = 64


def _input_marker(sf_dir: str, tables: list[str]) -> tuple:
    """Sorted (relpath, size, mtime_ns) of every file under each input
    ``{sf_dir}/{table}.parquet`` (a single file or a directory of parts)."""
    out = []
    for t in tables:
        root = os.path.join(sf_dir, f"{t}.parquet")
        paths = [root] if os.path.isfile(root) else [
            os.path.join(d, f) for d, _, files in os.walk(root) for f in files
        ]
        for p in paths:
            st = os.stat(p)
            out.append((os.path.relpath(p, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _stage_root(marker: tuple = ()) -> str:
    """Scratch root for Spark-side-only staging (shingles, signatures, CC
    rounds). Mirrors bench.py's BENCH_TMPFS policy: in local mode every
    staged byte funnels through ONE virtio disk, which a real cluster's
    per-executor disks would not; tmpfs keeps the measurement about the
    engine (bench.py applies the same policy to its own scratch). tmpfs is
    used only while it has room for ``marker``'s inputs (_TMPFS_HEADROOM). Staging
    that the frozen oracle SQL reads back (PQ codebooks, IVF centroids)
    stays under _WORK — those paths are embedded in the oracle text."""
    if os.environ.get("BENCH_TMPFS", "1") == "1" and os.path.isdir("/dev/shm"):
        need = _TMPFS_HEADROOM * sum(size for _rel, size, _mtime in marker)
        if shutil.disk_usage("/dev/shm").free > need:
            return "/dev/shm/spark_graft_qstage"
    return _WORK


# every staged intermediate of this process, keyed by (kind, sf_dir,
# params, input marker): a stage is a deterministic function of its inputs'
# content, so a table regenerated in place misses and rebuilds. Directory
# stages hold their path as a str (perfbench's reset_stage_caches removes
# those); value stages hold what their build returned.
_STAGE: dict[tuple, Any] = {}


def _stage_once(
    kind: str, sf_dir: str, tables: list[str], params: tuple, build: Callable[[str], Any]
) -> Any:
    """``build(path)`` once per key; later calls return its memoized result.
    ``path`` is ``<stage root>/<kind>/<md5(key)[:12]>``: directory stages
    write there and return it, value stages ignore it."""
    marker = _input_marker(sf_dir, tables)
    key = (kind, sf_dir, params, marker)
    if key not in _STAGE:
        digest = hashlib.md5(repr(key).encode()).hexdigest()[:12]
        _STAGE[key] = build(os.path.join(_stage_root(marker), kind, digest))
    return _STAGE[key]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _staged_shingles(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """The (doc_id, shingle) explode of `documents` that ngram_jaccard,
    minhash_signatures, minhash_lsh_pairs and benchmark_contamination all
    consume, staged once: re-reading the parquet saves ~1/3 of the shingle
    family's wall with byte-identical results."""

    def build(path: str) -> str:
        # spread the (single-row-group, unsplittable) documents scan so
        # the shingle explode runs on every core, not 1-2 tasks
        text_dedup.shingle_table(
            similarity.spread_small_scan(_t(spark, sf_dir, "documents")), n=n
        ).write.mode("overwrite").parquet(path)
        return path

    return spark.read.parquet(_stage_once("shingles", sf_dir, ["documents"], (n,), build))


def _staged_minhash_sig(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The k-wide signature table minhash_lsh_pairs and dedup_clusters both
    consume, staged once instead of recomputed per call."""

    def build(path: str) -> str:
        text_dedup.minhash_signatures(
            None, k, shingles=_staged_shingles(spark, sf_dir)
        ).write.mode("overwrite").parquet(path)
        return path

    return spark.read.parquet(_stage_once("minhash_sig", sf_dir, ["documents"], (k,), build))


def _op_col() -> F.Column:
    return (
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
    )


# --------------------------------------------------------------------------
# CDC operators over the `events` table
# --------------------------------------------------------------------------

def q_cdc_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 last-writer-wins through the engine's one arg-max,
    ``operators/dedup.argmax_rows``: per user, the event with the greatest
    (ts, event_id) tuple."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_ts_us"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )
    return argmax_rows(ev, "user_id", ["last_ts_us", "last_event_id"])


SQL_CDC_LWW = """
SELECT user_id, last_ts_us, last_event_id, last_event_type, last_value FROM (
  SELECT user_id, epoch_us(ts) AS last_ts_us, event_id AS last_event_id,
         event_type AS last_event_type, value AS last_value,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_cdc_event_identity_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 identity dedup: duplicates share (key, op-ish, ts)."""
    ev = _t(spark, sf_dir, "events")
    ident = F.concat_ws(":", F.col("event_type"), F.unix_micros(F.col("ts").cast("timestamp")).cast("string"))
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct(ident).alias("n_distinct_identity"),
    )


SQL_CDC_IDENTITY = """
SELECT user_id, count(*) AS n_total,
       count(DISTINCT event_type || ':' || CAST(epoch_us(ts) AS VARCHAR)) AS n_distinct_identity
FROM events GROUP BY user_id
"""


def q_cdc_op_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 op extraction/classification with counts per op (§2.6 metrics agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(_op_col().alias("op"), "value")
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("sum_value"))
    )


SQL_CDC_OP_CLASSIFY = f"""
SELECT {OP_CASE_SQL} AS op, count(*) AS n, round(sum(value), 3) AS sum_value
FROM events GROUP BY 1
"""


def q_cdc_resolved_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/W1: control-row split + frontier advance (every 100th event plays
    the resolved-timestamp role)."""
    ev = _t(spark, sf_dir, "events")
    is_res = F.col("event_id") % 100 == 0
    return ev.agg(
        F.max(F.when(is_res, F.unix_micros(F.col("ts").cast("timestamp")))).alias("frontier_us"),
        F.sum(F.when(is_res, 1).otherwise(0)).alias("n_resolved"),
        F.sum(F.when(~is_res, 1).otherwise(0)).alias("n_data"),
    )


SQL_CDC_FRONTIER = """
SELECT max(CASE WHEN event_id % 100 = 0 THEN epoch_us(ts) END) AS frontier_us,
       CAST(sum(CASE WHEN event_id % 100 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved,
       CAST(sum(CASE WHEN event_id % 100 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_data
FROM events
"""


def _cdc_applied(spark: SparkSession, sf_dir: str, mode: str) -> tuple[SnapshotTable, int]:
    """The customer base merged as ``b1`` ('c', wall 1), then the events'
    last-writer-wins updates as ``b2`` ('u', or 'd' where the last event is
    an error, wall 2), into a fresh 8-bucket ``SnapshotTable`` with
    ``write.merge.mode=mode``. Returns the table and v1, its version after
    ``b1``. Each call gets its own table directory (removed at exit), so an
    earlier call's still-lazy result keeps its files."""
    path = os.path.join(_WORK, "cdc_applied", f"{mode}_{uuid.uuid4().hex[:12]}")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    schema = T.StructType([
        T.StructField("ck", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("balance", T.DoubleType(), True),
    ])
    table = SnapshotTable.create(
        path, schema, "ck", num_buckets=8, properties={"write.merge.mode": mode}
    )
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("balance"),
        F.lit("c").alias("op"), F.lit(1).cast("long").alias("commit_wall_ns"),
        F.lit(0).cast("long").alias("commit_logical"), F.col("c_custkey").alias("seq"),
    )
    table.merge(spark, base, "b1")
    v1 = table.meta["version"]
    upd = q_cdc_last_writer_wins(spark, sf_dir).select(
        (F.col("user_id") + 1).alias("ck"),
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("name"),
        F.round(F.col("last_value"), 2).alias("balance"),
        F.when(F.col("last_event_type") == "error", F.lit("d")).otherwise(F.lit("u")).alias("op"),
        F.lit(2).cast("long").alias("commit_wall_ns"),
        F.lit(0).cast("long").alias("commit_logical"),
        (F.col("user_id") + 1).alias("seq"),
    )
    table.merge(spark, upd, "b2")
    return table, v1


def q_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 MERGE through the engine: the last event per key applied onto
    the customer base by ``SnapshotTable.merge`` (delete removes, update
    rewrites, others keep), read back by ``read_state``. A MoR table that
    compacted nothing must read the same state through read-time
    resolution."""
    cow, _ = _cdc_applied(spark, sf_dir, "cow")
    mor, _ = _cdc_applied(spark, sf_dir, "mor")
    assert {fe.get("kind") for fe in mor.meta["files"]} == {"delta"}, "MoR table compacted"
    s_cow, s_mor = cow.read_state(spark), mor.read_state(spark)
    assert s_cow.exceptAll(s_mor).isEmpty() and s_mor.exceptAll(s_cow).isEmpty(), \
        "MoR read-time resolution disagrees with CoW state"
    return s_cow.select(F.col("ck").alias("c_custkey"), "name", "balance")


SQL_CDC_MERGE_APPLY = """
WITH lww AS (
  SELECT user_id + 1 AS c_custkey, event_type AS last_event_type, value AS last_value FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT c.c_custkey,
       CASE WHEN l.last_event_type IS NOT NULL THEN 'user-' || CAST(c.c_custkey - 1 AS VARCHAR)
            ELSE c.c_name END AS name,
       CASE WHEN l.last_event_type IS NOT NULL THEN round(l.last_value, 2)
            ELSE round(CAST(c.c_acctbal AS DOUBLE), 2) END AS balance
FROM customer c LEFT JOIN lww l USING (c_custkey)
WHERE l.last_event_type IS NULL OR l.last_event_type <> 'error'
"""


def q_table_changes_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF read behind the hard gate: customer base merged as v1, the
    events LWW batch applied after it, then ``table_changes(v1)`` must emit
    exactly the row-level diffs — update_postimage for surviving events,
    delete (with pre-image) where the last event is an error."""
    table, v1 = _cdc_applied(spark, sf_dir, "cow")
    return table.table_changes(spark, v1).select(
        "ck", "name", "balance", F.col("_change_type").alias("change_type")
    )


SQL_TABLE_CHANGES = """
WITH lww AS (
  SELECT user_id + 1 AS ck, user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
), cust AS (
  SELECT c_custkey AS ck, c_name AS name, round(CAST(c_acctbal AS DOUBLE), 2) AS balance
  FROM customer
)
SELECT l.ck,
       CASE WHEN l.event_type = 'error' THEN c.name
            ELSE 'user-' || CAST(l.user_id AS VARCHAR) END AS name,
       CASE WHEN l.event_type = 'error' THEN c.balance
            ELSE round(l.value, 2) END AS balance,
       CASE WHEN l.event_type = 'error' THEN 'delete'
            ELSE 'update_postimage' END AS change_type
FROM lww l JOIN cust c USING (ck)
"""


def q_hlc_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15: HLC strings built from event timestamps, parsed back."""
    ev = _t(spark, sf_dir, "events")
    hlc = F.concat(
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string"),
        F.lit("."),
        F.lpad((F.col("event_id") % 3).cast("string"), 10, "0"),
    )
    return ev.select(
        "event_id",
        hlc_wall_ns(hlc).alias("wall_ns"),
        hlc_logical(hlc).alias("logical"),
    )


SQL_HLC_ROUNDTRIP = """
SELECT event_id, epoch_us(ts) * 1000 AS wall_ns, event_id % 3 AS logical
FROM events
"""


def q_envelope_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/S5: envelope JSON built from orders rows, fields projected
    back out (the parse path's projection semantics, oracle-checkable)."""
    o = _t(spark, sf_dir, "orders")
    env = F.concat(
        F.lit('{"after":{"id":'), F.col("o_orderkey").cast("string"),
        F.lit(',"status":"'), F.col("o_orderstatus"),
        F.lit('"},"op":"c","source":{"table_name":"orders"}}'),
    )
    return o.select(
        F.get_json_object(env, "$.after.id").cast("long").alias("id"),
        F.get_json_object(env, "$.after.status").alias("status"),
        F.get_json_object(env, "$.op").alias("op"),
        F.get_json_object(env, "$.source.table_name").alias("table_name"),
    )


SQL_ENVELOPE_EXTRACT = """
WITH env AS (
  SELECT '{"after":{"id":' || CAST(o_orderkey AS VARCHAR) || ',"status":"' || o_orderstatus
         || '"},"op":"c","source":{"table_name":"orders"}}' AS v
  FROM orders
)
SELECT CAST(json_extract_string(v, '$.after.id') AS BIGINT) AS id,
       json_extract_string(v, '$.after.status') AS status,
       json_extract_string(v, '$.op') AS op,
       json_extract_string(v, '$.source.table_name') AS table_name
FROM env
"""


def q_bytea_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: bytea hex-literal decode + re-encode through real binary."""
    s = _t(spark, sf_dir, "supplier")
    lit = F.concat(F.lit("\\x"), F.substring(F.md5(F.col("s_name")), 1, 8))
    from ..functions.converters import bytes_to_hex_literal, decode_bytes_literal

    return s.select(
        "s_suppkey",
        bytes_to_hex_literal(decode_bytes_literal(lit)).alias("hex_literal"),
        F.length(decode_bytes_literal(lit)).alias("n_bytes"),
    )


SQL_BYTEA_ROUNDTRIP = r"""
SELECT s_suppkey, '\x' || substr(md5(s_name), 1, 8) AS hex_literal, 4 AS n_bytes
FROM supplier
"""


def q_temporal_micros(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: timestamp-string → micros-since-epoch UTC via the converter."""
    ev = _t(spark, sf_dir, "events")
    from ..functions.converters import convert_timestamp_micros

    s = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    return ev.select("event_id", convert_timestamp_micros(s).alias("ts_us"))


SQL_TEMPORAL_MICROS = """
SELECT event_id, epoch_us(ts) AS ts_us FROM events
"""


def q_alltypes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C4/C5/C6/C7/C8/C9/C10/C11/C12/C13 through the REAL envelope
    parser (sources/envelope.parse_changefeed): typed envelope JSON built
    from orders rows, parsed under declared CRDB column types, projected to
    DuckDB-comparable scalars (the CockroachDBAllTypesIT.java:44-161
    analogue behind the value-exact gate). c_bytes also exercises
    binary.handling.mode='hex'."""
    from ..functions.converters import ColumnSpec
    from ..sources.envelope import parse_changefeed

    specs = [
        ColumnSpec("id", "INT8", nullable=False),
        ColumnSpec("c_bool", "BOOL"),
        ColumnSpec("c_dec", "DECIMAL", 18, 3),
        ColumnSpec("c_str", "STRING"),
        ColumnSpec("c_bytes", "BYTES", binary_mode="hex"),
        ColumnSpec("c_date", "DATE"),
        ColumnSpec("c_time", "TIME"),
        ColumnSpec("c_timetz", "TIMETZ"),
        ColumnSpec("c_ts", "TIMESTAMP"),
        ColumnSpec("c_tstz", "TIMESTAMPTZ"),
        ColumnSpec("c_js", "JSONB"),
        ColumnSpec("c_toks", "INT4[]"),
        ColumnSpec("c_vec", "VECTOR"),
    ]
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    h = (k % 24).cast("int")
    m = (k % 60).cast("int")
    s = ((k * 7) % 60).cast("int")
    ms = (k % 1000).cast("int")
    value = F.concat(
        F.lit('{"after":{"id":'), k.cast("string"),
        F.lit(',"c_bool":"'),
        F.element_at(F.array(F.lit("t"), F.lit("false"), F.lit("1"), F.lit("yes")), (k % 4 + 1).cast("int")),
        F.lit('","c_dec":'), k.cast("string"), F.lit(".125"),
        F.lit(',"c_str":"'), F.col("o_orderpriority"),
        F.lit('","c_bytes":"\\\\x'), F.substring(F.md5(k.cast("string")), 1, 8),
        F.lit('","c_date":"'), F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit('","c_time":"'), F.format_string("%02d:%02d:%02d.%03d", h, m, s, ms),
        F.lit('","c_timetz":"'), F.format_string("%02d:%02d:%02d+05", h, m, s),
        F.lit('","c_ts":"'), F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit('","c_tstz":"'), F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+02"),
        F.lit('","c_js":"{\\"k\\": '), k.cast("string"), F.lit('}"'),
        F.lit(',"c_toks":['), (k % 100).cast("string"), F.lit(","), ((k * 3) % 100).cast("string"),
        F.lit('],"c_vec":[0.5,'), (k * 0.25).cast("string"),
        F.lit(']},"op":"c","ts_ns":'), k.cast("string"), F.lit("}"),
    )
    raw = o.select(
        F.lit("crdb.public.alltypes").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        k.alias("offset"),
        F.lit(0).cast("long").alias("ts_ms"),
        F.to_json(F.array(k.cast("string"))).alias("key"),
        value.alias("value"),
    )
    parsed = parse_changefeed(raw, specs, "id")
    a = F.col("after")
    return parsed.select(
        a["id"].alias("id"),
        a["c_bool"].alias("c_bool"),
        a["c_dec"].cast("string").alias("c_dec"),
        a["c_str"].alias("c_str"),
        a["c_bytes"].alias("c_bytes_hex"),
        F.date_format(a["c_date"], "yyyy-MM-dd").alias("c_date"),
        a["c_time"].alias("c_time_us"),
        a["c_timetz"].alias("c_timetz"),
        a["c_ts"].alias("c_ts_us"),
        F.unix_micros(a["c_tstz"]).alias("c_tstz_us"),
        a["c_js"].alias("c_js"),
        F.get(a["c_toks"], 0).alias("tok0"),
        F.get(a["c_toks"], 1).alias("tok1"),
        F.get(a["c_vec"], 1).alias("vec1"),
    )


SQL_ALLTYPES = """
SELECT o_orderkey AS id,
       (o_orderkey % 4) <> 1 AS c_bool,
       CAST(o_orderkey AS VARCHAR) || '.125' AS c_dec,
       o_orderpriority AS c_str,
       substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS c_bytes_hex,
       strftime(o_orderdate, '%Y-%m-%d') AS c_date,
       ((o_orderkey % 24) * 3600 + (o_orderkey % 60) * 60 + (o_orderkey * 7) % 60) * 1000000
         + (o_orderkey % 1000) * 1000 AS c_time_us,
       printf('%02d:%02d:%02d+05:00', CAST(o_orderkey % 24 AS INT), CAST(o_orderkey % 60 AS INT),
              CAST((o_orderkey * 7) % 60 AS INT)) AS c_timetz,
       epoch_us(o_orderdate) AS c_ts_us,
       epoch_us(o_orderdate) - 7200000000 AS c_tstz_us,
       '{"k": ' || CAST(o_orderkey AS VARCHAR) || '}' AS c_js,
       CAST(o_orderkey % 100 AS INT) AS tok0,
       CAST((o_orderkey * 3) % 100 AS INT) AS tok1,
       o_orderkey * 0.25 AS vec1
FROM orders
"""


_DEFAULTS_TABLE = os.path.join(_WORK, "defaults_table")


def q_schema_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 end-to-end: rows merged under schema v1, then a registry DDL
    adds columns with defaults — a literal default ('PENDING', 42) fills
    pre-DDL rows at read; a function default (now()) stays null
    (CockroachDBDefaultValueConverter.java:41-59,164-210)."""
    from ..functions.converters import ColumnSpec
    from ..streaming.pipeline import registry_defaults

    shutil.rmtree(_DEFAULTS_TABLE, ignore_errors=True)
    v1 = T.StructType([
        T.StructField("ck", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
    ])
    table = SnapshotTable.create(_DEFAULTS_TABLE, v1, "ck", num_buckets=8)
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_name").alias("name"),
        F.lit("c").alias("op"), F.lit(1).cast("long").alias("commit_wall_ns"),
        F.lit(0).cast("long").alias("commit_logical"), F.col("c_custkey").alias("seq"),
    )
    table.merge(spark, cust, "b1")

    v2_specs = [
        ColumnSpec("ck", "INT8", nullable=False),
        ColumnSpec("name", "STRING"),
        ColumnSpec("status", "STRING", default_sql="'PENDING':::STRING"),
        ColumnSpec("score", "INT8", default_sql="42:::INT8"),
        ColumnSpec("created", "TIMESTAMPTZ", default_sql="now():::TIMESTAMPTZ"),
    ]
    v2 = T.StructType(list(v1.fields) + [
        T.StructField("status", T.StringType(), True),
        T.StructField("score", T.LongType(), True),
        T.StructField("created", T.TimestampType(), True),
    ])
    table.evolve_schema(v2, defaults=registry_defaults(v2_specs))
    st = table.read_state(spark)
    return st.select(
        "ck", "name", "status", "score", F.unix_micros("created").alias("created_us")
    )


SQL_SCHEMA_DEFAULTS = """
SELECT c_custkey AS ck, c_name AS name, 'PENDING' AS status,
       CAST(42 AS BIGINT) AS score, CAST(NULL AS BIGINT) AS created_us
FROM customer
"""


_MULTITABLE_BASE = os.path.join(_WORK, "multitable")


def _envelope(after_json: F.Column | None, op: str, table: str, wall: int,
              key_json: F.Column | None = None) -> F.Column:
    """Enriched-envelope value JSON for the synthetic multi-table logs."""
    hlc = f'"{wall}.0000000000"'
    if after_json is None:
        return F.concat(
            F.lit('{"op":"' + op + '","source":{"table_name":"' + table
                  + '","ts_hlc":' + hlc + "}}"),
        )
    return F.concat(
        F.lit('{"after":'), after_json,
        F.lit(',"op":"' + op + '","source":{"table_name":"' + table
              + '","ts_hlc":' + hlc + "}}"),
    )


def q_multitable_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/F3/W7 behind the hash gate: TWO tables' changefeed envelopes
    interleaved in ONE raw stream (reference primary scenario,
    CockroachDBMultiTableIT.java) are routed by topic suffix / source
    block into two independent snapshot tables via MultiTablePipeline
    (own checkpoints, registries, frontiers); the query returns the union
    of both tables' canonical final states. Workload per table exercises
    create + update + delete LWW across micro-batches:

      ordt (from orders):   create@1000 for every key; for key%3==0 a
                            second event @2000 — delete when key%9==0,
                            else update (status='UPDATED', amount+1)
      cust (from customer): create@1000 for every key; delete@2000 for
                            key%5==0

    plus resolved control rows that advance BOTH frontiers."""
    from ..streaming.multitable import MultiTablePipeline
    from ..streaming.pipeline import CDCPipeline, IngestConfig

    base = _MULTITABLE_BASE
    shutil.rmtree(base, ignore_errors=True)

    def write_registry(log_dir: str, cols: list[tuple[str, str]]) -> None:
        import json as _json

        os.makedirs(os.path.join(log_dir, "_schema"), exist_ok=True)
        with open(os.path.join(log_dir, "_schema", "v1.json"), "w") as f:
            _json.dump({"version": 1, "columns": [
                {"name": n, "crdb_type": t, "nullable": n != "id"} for n, t in cols
            ]}, f)

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey").cast("long")
    ordt_create = o.select(
        F.lit("crdb.public.ordt").alias("topic"), F.lit(0).cast("int").alias("partition"),
        (k * 4).alias("offset"), F.lit(0).cast("long").alias("ts_ms"),
        F.to_json(F.array(k.cast("string"))).alias("key"),
        _envelope(
            F.concat(F.lit('{"id":'), k.cast("string"),
                     F.lit(',"status":"'), F.col("o_orderstatus"),
                     F.lit('","amount":'), (k % 1000).cast("string"), F.lit("}")),
            "c", "ordt", 1000,
        ).alias("value"),
    )
    ordt_second = o.filter(k % 3 == 0).select(
        F.lit("crdb.public.ordt").alias("topic"), F.lit(0).cast("int").alias("partition"),
        (k * 4 + 1).alias("offset"), F.lit(0).cast("long").alias("ts_ms"),
        F.to_json(F.array(k.cast("string"))).alias("key"),
        F.when(
            k % 9 == 0, _envelope(None, "d", "ordt", 2000),
        ).otherwise(
            _envelope(
                F.concat(F.lit('{"id":'), k.cast("string"),
                         F.lit(',"status":"UPDATED","amount":'),
                         (k % 1000 + 1).cast("string"), F.lit("}")),
                "u", "ordt", 2000,
            )
        ).alias("value"),
    )
    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("long")
    cust_create = c.select(
        F.lit("crdb.public.cust").alias("topic"), F.lit(0).cast("int").alias("partition"),
        (F.lit(10_000_000) + ck * 4).alias("offset"), F.lit(0).cast("long").alias("ts_ms"),
        F.to_json(F.array(ck.cast("string"))).alias("key"),
        _envelope(
            F.concat(F.lit('{"id":'), ck.cast("string"),
                     F.lit(',"name":"'), F.col("c_name"),
                     F.lit('","nation":'), F.col("c_nationkey").cast("long").cast("string"),
                     F.lit("}")),
            "c", "cust", 1000,
        ).alias("value"),
    )
    cust_delete = c.filter(ck % 5 == 0).select(
        F.lit("crdb.public.cust").alias("topic"), F.lit(0).cast("int").alias("partition"),
        (F.lit(10_000_000) + ck * 4 + 1).alias("offset"), F.lit(0).cast("long").alias("ts_ms"),
        F.to_json(F.array(ck.cast("string"))).alias("key"),
        _envelope(None, "d", "cust", 2000).alias("value"),
    )
    resolved = spark.createDataFrame(
        [("crdb.public.ordt", 0, 20_000_000, 0, None, '{"resolved":"3000.0000000000"}')],
        "topic string, partition int, offset long, ts_ms long, key string, value string",
    )
    mixed = (
        ordt_create.unionByName(ordt_second)
        .unionByName(cust_create).unionByName(cust_delete).unionByName(resolved)
    )
    mixed_dir = os.path.join(base, "log")
    mixed.repartitionByRange(4, "offset").sortWithinPartitions("offset") \
        .write.mode("overwrite").parquet(mixed_dir)

    pipes = {}
    for name, cols in (
        ("ordt", [("id", "INT8"), ("status", "STRING"), ("amount", "INT8")]),
        ("cust", [("id", "INT8"), ("name", "STRING"), ("nation", "INT8")]),
    ):
        tdir = os.path.join(base, name)
        write_registry(tdir, cols)
        pipes[name] = CDCPipeline(spark, IngestConfig(
            log_dir=tdir, table_path=os.path.join(tdir, "table"),
            metrics_path=os.path.join(tdir, "metrics"), pk_name="id",
            num_buckets=8, snapshot_mode="never",
        ))
    mt = MultiTablePipeline(spark, pipes)
    q = mt.start_stream(mixed_dir, os.path.join(base, "ckpt"),
                        max_files_per_trigger=2, available_now=True)
    q.awaitTermination()

    out = None
    for name, (sval, nval) in (("ordt", ("status", "amount")), ("cust", ("name", "nation"))):
        st = pipes[name].read_state().select(
            F.lit(name).alias("table_name"), F.col("id"),
            F.col(sval).alias("sval"), F.col(nval).cast("long").alias("nval"),
        )
        out = st if out is None else out.unionByName(st)
    # both frontiers advanced via the shared resolved row — assert, since
    # the oracle cannot see table metadata
    for name in pipes:
        assert pipes[name].table.meta["frontier"]["wall_ns"] == 3000, name
    return out


SQL_MULTITABLE = """
SELECT 'ordt' AS table_name, CAST(o_orderkey AS BIGINT) AS id,
       CASE WHEN o_orderkey % 3 = 0 THEN 'UPDATED' ELSE o_orderstatus END AS sval,
       CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 1000 + 1
                 ELSE o_orderkey % 1000 END AS BIGINT) AS nval
FROM orders WHERE o_orderkey % 9 <> 0
UNION ALL
SELECT 'cust' AS table_name, CAST(c_custkey AS BIGINT) AS id,
       c_name AS sval, CAST(c_nationkey AS BIGINT) AS nval
FROM customer WHERE c_custkey % 5 <> 0
"""


_BACKFILL_BASE = os.path.join(_WORK, "backfill")


def q_backfill_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 behind the hash gate: signal-triggered incremental snapshot
    (reference CockroachDBIncrementalSnapshotIT.java:47-120) — the stream
    first applies live updates for part of the key space (wall=5000), then
    an execute-snapshot signal re-reads the FULL source in bucket-aligned
    chunks as op='r' rows at the (older) snapshot timestamp. The merge
    guard makes the backfill fill only keys the stream has not touched —
    the seed-overlay semantics the SQL oracle recomputes."""
    import json as _json

    from ..streaming.backfill import process_signals
    from ..streaming.pipeline import CDCPipeline, IngestConfig

    base = _BACKFILL_BASE
    shutil.rmtree(base, ignore_errors=True)
    log_dir = os.path.join(base, "log")

    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("long")
    stream_events = c.filter(ck % 4 == 0).select(
        F.lit("crdb.public.bk").alias("topic"), F.lit(0).cast("int").alias("partition"),
        ck.alias("offset"), F.lit(0).cast("long").alias("ts_ms"),
        F.to_json(F.array(ck.cast("string"))).alias("key"),
        _envelope(
            F.concat(F.lit('{"id":'), ck.cast("string"),
                     F.lit(',"name":"stream-'), ck.cast("string"),
                     F.lit('","score":'), (ck * 2).cast("string"), F.lit("}")),
            "u", "bk", 5000,
        ).alias("value"),
    )
    stream_events.repartitionByRange(2, "offset").sortWithinPartitions("offset") \
        .write.mode("overwrite").parquet(log_dir)
    os.makedirs(os.path.join(log_dir, "_schema"), exist_ok=True)
    with open(os.path.join(log_dir, "_schema", "v1.json"), "w") as f:
        _json.dump({"version": 1, "columns": [
            {"name": "id", "crdb_type": "INT8", "nullable": False},
            {"name": "name", "crdb_type": "STRING"},
            {"name": "score", "crdb_type": "INT8"},
        ]}, f)

    pipe = CDCPipeline(spark, IngestConfig(
        log_dir=log_dir, table_path=os.path.join(base, "table"),
        metrics_path=os.path.join(base, "metrics"),
        checkpoint_dir=os.path.join(base, "ckpt"),
        pk_name="id", num_buckets=8, snapshot_mode="never",
        snapshot_wall_ns=1000,  # backfill rows are OLDER than stream rows
    ))
    q = pipe.start_stream(available_now=True)
    q.awaitTermination()

    sig_dir = os.path.join(base, "signals")
    os.makedirs(sig_dir, exist_ok=True)
    with open(os.path.join(sig_dir, "001.json"), "w") as f:
        _json.dump({"id": "sig-1", "type": "execute-snapshot",
                    "data": {"source": "default"}}, f)
    source = c.select(
        ck.alias("id"), F.col("c_name").alias("name"), ck.alias("score")
    )
    results = process_signals(pipe, sig_dir, {"default": source}, n_chunks=4)
    assert len(results) == 1 and len(results[0]) == 4  # chunked, signal drained
    return pipe.read_state().select("id", "name", F.col("score").cast("long").alias("score"))


SQL_BACKFILL = """
SELECT CAST(c_custkey AS BIGINT) AS id,
       CASE WHEN c_custkey % 4 = 0 THEN 'stream-' || CAST(c_custkey AS VARCHAR)
            ELSE c_name END AS name,
       CAST(CASE WHEN c_custkey % 4 = 0 THEN c_custkey * 2
                 ELSE c_custkey END AS BIGINT) AS score
FROM customer
"""


# --------------------------------------------------------------------------
# Training-data operators over `documents` / `embeddings`
# --------------------------------------------------------------------------

H48_SQL = MD5_48_DUCKDB_TEMPLATE  # .format(expr=...)

NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(length({n}) - 4, 1) + 1),"
    " i -> substr({n}, i, 5)))"
)


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.analyze_documents(_t(spark, sf_dir, "documents"))


SQL_TEXT_ANALYSIS = """
WITH base AS (
  SELECT doc_id, text, trim(text) AS t,
         ' ' || lower(text) || ' ' AS padded,
         len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS n_tokens,
         length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS kept,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS letters
  FROM documents
), scored AS (
  SELECT doc_id, text, n_tokens,
         length(text) AS n_chars,
         round(kept / greatest(length(text), 1), 4) AS word_char_ratio,
         round(letters / greatest(n_tokens, 1), 4) AS mean_token_len,
         CAST((length(padded) - length(replace(padded, ' the ', ''))) / 5
            + (length(padded) - length(replace(padded, ' and ', ''))) / 5
            + (length(padded) - length(replace(padded, ' of ', ''))) / 4
            + (length(padded) - length(replace(padded, ' to ', ''))) / 4 AS INT) AS s_en,
         CAST((length(padded) - length(replace(padded, ' der ', ''))) / 5
            + (length(padded) - length(replace(padded, ' und ', ''))) / 5
            + (length(padded) - length(replace(padded, ' die ', ''))) / 5
            + (length(padded) - length(replace(padded, ' das ', ''))) / 5 AS INT) AS s_de,
         CAST((length(padded) - length(replace(padded, ' le ', ''))) / 4
            + (length(padded) - length(replace(padded, ' la ', ''))) / 4
            + (length(padded) - length(replace(padded, ' et ', ''))) / 4
            + (length(padded) - length(replace(padded, ' les ', ''))) / 5 AS INT) AS s_fr,
         CAST((length(padded) - length(replace(padded, ' el ', ''))) / 4
            + (length(padded) - length(replace(padded, ' los ', ''))) / 5
            + (length(padded) - length(replace(padded, ' que ', ''))) / 5
            + (length(padded) - length(replace(padded, ' y ', ''))) / 3 AS INT) AS s_es
  FROM base
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(n_chars AS INT) AS n_chars, word_char_ratio, mean_token_len,
       round(word_char_ratio * (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END), 4) AS quality,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS lang_pred,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM scored
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish pre-tokenizer pieces) and the
    Rabin-Karp rolling-hash document fingerprint — exact integer/regex
    semantics shared with the SQL oracle."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        text.token_count(t).alias("n_ws_tokens"),
        text.bpe_piece_count(t).alias("n_bpe_pieces"),
        text.rolling_fingerprint(t).alias("rolling_fp"),
    )


def _token_stats_sql() -> str:
    pat = text.BPE_PIECE_RE.replace("'", "''")
    return f"""
WITH base AS (
  SELECT doc_id, text, {NORM_SQL} AS norm FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_bpe_pieces,
       CASE WHEN length(norm) = 0 THEN CAST(0 AS BIGINT)
            ELSE list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                [CAST(ascii(x) AS BIGINT) for x in regexp_split_to_array(norm, '')]),
                   (acc, c) -> (acc * {text.ROLLING_BASE} + c) % {text.ROLLING_MOD})
       END AS rolling_fp
FROM base
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: text analysis → quality/language
    gates → exact dedup (keep min doc_id per fingerprint) — the one-pass
    curation flow a pretraining corpus build runs over raw documents."""
    analyzed = text.analyze_documents(_t(spark, sf_dir, "documents"))
    gated = analyzed.filter(
        (F.col("quality") >= 0.5) & (F.col("lang_pred") == "en") & (F.col("n_tokens") >= 5)
    )
    keep = gated.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return (
        gated.join(keep, ["fingerprint", "doc_id"])
        .select("doc_id", "n_tokens", "quality", "fingerprint")
    )


SQL_CORPUS_CURATION_TMPL = """
WITH analyzed AS ({{TEXT_ANALYSIS}}),
gated AS (
  SELECT doc_id, n_tokens, quality, fingerprint
  FROM analyzed
  WHERE quality >= 0.5 AND lang_pred = 'en' AND n_tokens >= 5
),
keep AS (
  SELECT fingerprint, min(doc_id) AS doc_id FROM gated GROUP BY fingerprint
)
SELECT g.doc_id, CAST(g.n_tokens AS INT) AS n_tokens, g.quality, g.fingerprint
FROM gated g JOIN keep k ON g.fingerprint = k.fingerprint AND g.doc_id = k.doc_id
"""


def _corpus_curation_sql() -> str:
    return SQL_CORPUS_CURATION_TMPL.replace("{{TEXT_ANALYSIS}}", SQL_TEXT_ANALYSIS)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch STREAMING dedup (``streaming_exact_dedup``: per-batch
    min-id arg-max + anti-join against earlier batches' output, all in the
    JVM): documents split into 3 deterministic micro-batches (doc_id % 2,
    then a formatting-noise copy of every document; mtime-ordered); the
    first batch containing a content fingerprint emits its min-doc_id copy,
    all later copies are suppressed. First-batch-wins semantics is plain
    SQL, so even this stateful streaming operator faces a value-exact
    oracle."""
    from ..streaming.stream_dedup import streaming_exact_dedup

    # the 3 source batches are a pure re-layout of documents.parquet —
    # staged once like the shingle table; only the stream OUTPUT and
    # checkpoint are per-call state, in a fresh dir per call (removed at
    # exit) so an earlier call's still-lazy result keeps its files
    src = _staged_stream_dedup_src(spark, sf_dir)
    root = _stage_root(_input_marker(sf_dir, ["documents"]))
    run_base = os.path.join(root, "stream_dedup", f"run_{uuid.uuid4().hex[:12]}")
    atexit.register(shutil.rmtree, run_base, ignore_errors=True)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    out = os.path.join(run_base, "out")
    streaming_exact_dedup(stream, out, os.path.join(run_base, "ckpt")).awaitTermination()
    return spark.read.parquet(out).select("fp", "doc_id", "n_dropped_before_emit")


def _staged_stream_dedup_src(spark: SparkSession, sf_dir: str) -> str:
    """Stage the 3 deterministic micro-batch source files once: batches
    0/1 split the corpus by key parity, batch 2 is a formatting-noise variant of EVERY document (upper-case + extra
    whitespace — identical fingerprint) arriving later; mtimes force the
    b0 < b1 < b2 admission order. The stream must suppress all of batch 2
    via cross-batch state for the row set to match the oracle."""
    import time as _time

    def build(src: str) -> str:
        shutil.rmtree(src, ignore_errors=True)
        d = _t(spark, sf_dir, "documents").select("doc_id", "text")
        batches = [
            d.filter(F.col("doc_id") % 2 == 0),
            d.filter(F.col("doc_id") % 2 == 1),
            d.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                     F.concat(F.upper("text"), F.lit("  ")).alias("text")),
        ]
        for b, bdf in enumerate(batches):
            bdf.coalesce(1).write.parquet(os.path.join(src, f"b{b}"))
        t0 = int(_time.time()) - 3600
        for b in range(3):
            bd = os.path.join(src, f"b{b}")
            for fn in os.listdir(bd):
                os.utime(os.path.join(bd, fn), (t0 + b, t0 + b))
        return src

    return _stage_once("stream_dedup_src", sf_dir, ["documents"], (), build)


SQL_STREAM_DEDUP = """
WITH rows_in AS (
  SELECT doc_id, text, doc_id % 2 AS b FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper(text) || '  ' AS text, 2 AS b FROM documents
), base AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, b
  FROM rows_in
), firstb AS (
  SELECT fp, min(b) AS b0 FROM base GROUP BY fp
)
SELECT base.fp, min(doc_id) AS doc_id,
       count(*) - 1 AS n_dropped_before_emit
FROM base JOIN firstb ON base.fp = firstb.fp AND base.b = firstb.b0
GROUP BY base.fp
"""


_STREAM_WINDOW_BASE = os.path.join(_WORK, "stream_windowed")


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window STREAMING aggregation (append mode)
    over the events table replayed as 3 time-ordered micro-batches:
    1-hour windows, 30-minute watermark. Append emission is deterministic
    — a window row appears iff window_end <= max(event time) - delay
    (the final no-data micro-batch advances the watermark over all data)
    — so even the stateful windowed operator faces a value-exact oracle."""
    import time as _time

    from ..streaming.windowed import windowed_event_counts

    shutil.rmtree(_STREAM_WINDOW_BASE, ignore_errors=True)
    src = os.path.join(_STREAM_WINDOW_BASE, "src")
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    b = ev.agg(F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")).first()
    lo, hi = b["lo"], b["hi"]
    t1 = lo + (hi - lo) // 3
    t2 = lo + 2 * (hi - lo) // 3
    parts = [
        ev.filter(F.unix_micros("ts") < t1),
        ev.filter((F.unix_micros("ts") >= t1) & (F.unix_micros("ts") < t2)),
        ev.filter(F.unix_micros("ts") >= t2),
    ]
    t0 = int(_time.time()) - 3600
    for i, p in enumerate(parts):
        bd = os.path.join(src, f"b{i}")
        p.coalesce(1).write.parquet(bd)
        for fn in os.listdir(bd):
            os.utime(os.path.join(bd, fn), (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    out = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
    q = (
        out.writeStream.format("parquet")
        .option("path", os.path.join(_STREAM_WINDOW_BASE, "out"))
        .option("checkpointLocation", os.path.join(_STREAM_WINDOW_BASE, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(_STREAM_WINDOW_BASE, "out"))


# strict < mirrors Spark's append-mode eviction (window.end < watermark,
# i.e. `attribute <= watermark - 1ms`): a window whose end lands EXACTLY on
# max_ts - delay is retained by Spark, so the oracle must not emit it
SQL_STREAM_WINDOWED = """
WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
m AS (SELECT max(us) AS mx FROM e)
SELECT (us - us % 3600000000) AS window_start_us, event_type AS key,
       count(*) AS n, round(sum(value), 3) AS sum_value
FROM e, m
WHERE (us - us % 3600000000) + 3600000000 < mx - 1800000000
GROUP BY 1, 2
"""


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch sequence packing over the documents table: contiguous
    doc_id-order packing into 128-token windows via the two-phase
    distributed prefix sum (operators/packing.py) — the window/pack
    arithmetic the SQL oracle recomputes with a plain ordered cumsum."""
    from ..operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    return pack_sequences(d, capacity=128)


SQL_SEQUENCE_PACKING = """
WITH lens AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS BIGINT) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         coalesce(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM lens
)
SELECT doc_id, n_tok, CAST(s // 128 AS BIGINT) AS pack_id,
       CAST(s % 128 AS BIGINT) AS pack_offset
FROM c
"""


def q_sequence_packing_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-spanning packing: one row per (document × pack it
    overlaps) with in-document slice ranges — capacity 32 tokens, so most
    documents cross windows and many span several packs. The SQL oracle is
    the same ordered cumsum with a generate_series span explode."""
    from ..operators.packing import pack_sequences_slices

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    return pack_sequences_slices(d, capacity=32)


SQL_SEQUENCE_PACKING_SLICES = """
WITH lens AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS BIGINT) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM lens
), spans AS (
  SELECT doc_id, n_tok, s,
         unnest(generate_series(s // 32, (s + n_tok - 1) // 32)) AS pack_id
  FROM c WHERE n_tok > 0
)
SELECT doc_id, n_tok, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(greatest(s, pack_id * 32) - s AS BIGINT) AS slice_start,
       CAST(least(s + n_tok, (pack_id + 1) * 32) - greatest(s, pack_id * 32) AS BIGINT) AS slice_len,
       CAST(greatest(s, pack_id * 32) - pack_id * 32 AS BIGINT) AS pack_offset
FROM spans
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over deterministically PII-augmented documents: both
    engines append the same synthetic email/URL/IP snippets (pure doc_id
    arithmetic — the raw corpus carries no PII), then the Spark side runs
    the real redaction operator while the oracle applies the identical
    regex pipeline with RE2. Counts reflect replacements actually made
    (an IP inside a URL counts once, as a URL)."""
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit(" contact user"), sid, F.lit("@mail.example.com now"))
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" see https://site.example/p?q="), sid, F.lit(" ok"))
               ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit(" ip 10.2.0."), (F.col("doc_id") % 100).cast("string"),
                        F.lit(" end"))).otherwise(F.lit("")),
    )
    return text.redact_pii(
        d.select("doc_id", aug.alias("text"))
    ).select(
        "doc_id", "n_emails", "n_urls", "n_ips",
        F.md5(F.col("text_redacted")).alias("redacted_md5"),
    )


SQL_PII_REDACTION = r"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 4 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
              ELSE '' END
         || CASE WHEN doc_id % 5 = 0
              THEN ' see https://site.example/p?q=' || CAST(doc_id AS VARCHAR) || ' ok'
              ELSE '' END
         || CASE WHEN doc_id % 6 = 0
              THEN ' ip 10.2.0.' || CAST(doc_id % 100 AS VARCHAR) || ' end'
              ELSE '' END AS t
  FROM documents
), s1 AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+')) AS INT) AS n_emails,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g') AS t
  FROM aug
), s2 AS (
  SELECT doc_id, n_emails,
         CAST(length(regexp_extract_all(t, 'https?://[^ \t\n\r]*[^ \t\n\r).,;:!?\]]')) AS INT) AS n_urls,
         regexp_replace(t, 'https?://[^ \t\n\r]*[^ \t\n\r).,;:!?\]]', '<URL>', 'g') AS t
  FROM s1
)
SELECT doc_id, n_emails, n_urls,
       CAST(length(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
       md5(regexp_replace(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS redacted_md5
FROM s2
"""


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: every 50th document plays the eval set; the
    rest of the corpus reports its shingle overlap against it. The oracle
    reproduces the same split and distinct-shingle semi-count in SQL."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    sh = _staged_shingles(spark, sf_dir)
    return text_dedup.benchmark_contamination(
        corpus, bench,
        corpus_shingles=sh.filter(F.col("doc_id") % 50 != 0),
        bench_shingles=sh.filter(F.col("doc_id") % 50 == 0),
    )


SQL_BENCHMARK_CONTAMINATION = f"""
WITH bench AS (
  SELECT DISTINCT unnest({SHINGLES_SQL.format(n=NORM_SQL)}) AS shingle
  FROM documents WHERE doc_id % 50 = 0
), sh AS (
  SELECT doc_id, unnest({SHINGLES_SQL.format(n=NORM_SQL)}) AS shingle
  FROM documents WHERE doc_id % 50 <> 0
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_shingles,
       CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM bench) THEN 1 ELSE 0 END) AS INT)
         AS n_contaminated
FROM sh
GROUP BY doc_id
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition counters over documents whose text both
    engines augment identically with a duplicated line every third doc
    (the raw corpus is single-line, so the duplicate-line counter needs a
    deterministic fixture to exercise)."""
    d = _t(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit("\nrepeat me\nrepeat me")),
    ).otherwise(F.col("text"))
    return text.repetition_signals(d.select("doc_id", aug.alias("text")))


SQL_REPETITION_SIGNALS = r"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || 'repeat me' || chr(10) || 'repeat me'
              ELSE text END AS t
  FROM documents
), arr AS (
  SELECT doc_id, t,
         list_filter(regexp_split_to_array(lower(t), '\s+'), w -> w <> '') AS words,
         string_split(t, chr(10)) AS lines
  FROM aug
), big AS (
  SELECT *,
         CASE WHEN len(words) >= 2
              THEN list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])
              ELSE CAST([] AS VARCHAR[]) END AS bigrams
  FROM arr
), wtop AS (  -- relational top-count: unnest -> group -> max (exact)
  SELECT doc_id, max(c) AS top_word FROM (
    SELECT doc_id, w, count(*) AS c FROM (SELECT doc_id, unnest(words) AS w FROM arr)
    GROUP BY doc_id, w) GROUP BY doc_id
), btop AS (
  SELECT doc_id, max(c) AS top_bigram FROM (
    SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(bigrams) AS g FROM big)
    GROUP BY doc_id, g) GROUP BY doc_id
), ldup AS (
  SELECT doc_id, sum(CASE WHEN c > 1 THEN c * length(l) ELSE 0 END) AS dup_chars FROM (
    SELECT doc_id, l, count(*) AS c FROM (SELECT doc_id, unnest(lines) AS l FROM arr)
    GROUP BY doc_id, l) GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.words) AS INT) AS n_words,
       CAST(coalesce(w.top_word, 0) AS INT) AS top_word_count,
       CAST(len(b.bigrams) AS INT) AS n_bigrams,
       CAST(coalesce(t.top_bigram, 0) AS INT) AS top_bigram_count,
       CAST(length(b.t) AS INT) AS total_chars,
       CAST(coalesce(l.dup_chars, 0) AS INT) AS dup_line_chars
FROM big b
LEFT JOIN wtop w ON w.doc_id = b.doc_id
LEFT JOIN btop t ON t.doc_id = b.doc_id
LEFT JOIN ldup l ON l.doc_id = b.doc_id
"""


def q_pack_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack assembly (the dataloader-facing fold of the slice rows): one
    row per pack with the segment lists ordered by pack_offset — the
    block-diagonal attention-mask spec. Arrays fold to md5(to_json(...))
    for the driver's canonicalizer; the oracle reproduces them with
    ordered DuckDB list() aggregates over the same cumsum spans."""
    from ..operators.packing import assemble_packs, pack_sequences_slices

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    packs = assemble_packs(pack_sequences_slices(d, capacity=32))
    return packs.select(
        "pack_id",
        "n_slices",
        "n_tokens",
        F.md5(F.to_json("doc_ids")).alias("doc_ids_md5"),
        F.md5(F.to_json("pack_offsets")).alias("pack_offsets_md5"),
        F.md5(F.to_json("slice_starts")).alias("slice_starts_md5"),
        F.md5(F.to_json("slice_lens")).alias("slice_lens_md5"),
    )


SQL_PACK_ASSEMBLY = """
WITH lens AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS BIGINT) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
  FROM lens
), spans AS (
  SELECT doc_id, n_tok, s,
         unnest(generate_series(s // 32, (s + n_tok - 1) // 32)) AS pack_id
  FROM c WHERE n_tok > 0
), sl AS (
  SELECT doc_id, CAST(pack_id AS BIGINT) AS pack_id,
         CAST(greatest(s, pack_id * 32) - s AS BIGINT) AS slice_start,
         CAST(least(s + n_tok, (pack_id + 1) * 32) - greatest(s, pack_id * 32) AS BIGINT) AS slice_len,
         CAST(greatest(s, pack_id * 32) - pack_id * 32 AS BIGINT) AS pack_offset
  FROM spans
)
SELECT pack_id,
       CAST(count(*) AS INT) AS n_slices,
       CAST(sum(slice_len) AS BIGINT) AS n_tokens,
       md5(CAST(to_json(list(doc_id ORDER BY pack_offset)) AS VARCHAR)) AS doc_ids_md5,
       md5(CAST(to_json(list(pack_offset ORDER BY pack_offset)) AS VARCHAR)) AS pack_offsets_md5,
       md5(CAST(to_json(list(slice_start ORDER BY pack_offset)) AS VARCHAR)) AS slice_starts_md5,
       md5(CAST(to_json(list(slice_len ORDER BY pack_offset)) AS VARCHAR)) AS slice_lens_md5
FROM sl
GROUP BY pack_id
"""


SAMPLE_FRACTIONS = {"en": 0.5, "zh": 0.25, "de": 0.2, "fr": 0.1}
SAMPLE_SALT = "mix-v1"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-mixture rebalance):
    keep each language at its mixture fraction via the salt-keyed md5-48
    uniform (operators/sampling.py) — a pure map whose row-level keep
    decisions the SQL oracle reproduces exactly."""
    from ..operators.sampling import sample_stratified

    d = _t(spark, sf_dir, "documents")
    return sample_stratified(
        d, "lang", SAMPLE_FRACTIONS, default_fraction=0.05,
        salt=SAMPLE_SALT,
    ).select("doc_id", "lang")


def _stratified_sample_sql() -> str:
    h = H48_SQL.format(expr=f"CAST(doc_id AS VARCHAR) || '{SAMPLE_SALT}'")
    cases = " ".join(
        f"WHEN lang = '{v}' THEN {f}" for v, f in sorted(SAMPLE_FRACTIONS.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE CAST(({h}) AS DOUBLE) / 281474976710656.0
      < (CASE {cases} ELSE 0.05 END)
"""


TOKEN_VOCAB = 32768

# DuckDB mirror of tokens.hashed_tokens: normalize, split on the single
# collapsed space, md5-48 each token mod the vocab (exact int64)
TOKENIZE_SQL = (
    "list_transform(list_filter(regexp_split_to_array({norm}, ' '), w -> w <> ''), "
    "w -> CAST((" + H48_SQL.format(expr="w") + ") % {vocab} AS BIGINT))"
)


def q_token_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup in TOKEN space (operators/tokens.py): documents are
    deterministically tokenized to hashed ids and fingerprinted with a
    seeded polynomial fold — one hash-groupBy, the id-sequence analogue of
    dedup_exact over the payload the CDC engine ships."""
    from ..operators import tokens as tok

    d = similarity.spread_small_scan(_t(spark, sf_dir, "documents"))
    return tok.dedup_exact_tokens(
        d.select("doc_id", tok.hashed_tokens(F.col("text"), TOKEN_VOCAB).alias("tokens"))
    )


def _token_dedup_sql() -> str:
    toks = TOKENIZE_SQL.format(norm=NORM_SQL, vocab=TOKEN_VOCAB)
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents)
SELECT CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), toks),
                        (a, b) -> (a * 131 + b) % 2147483647) AS BIGINT) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM t GROUP BY 1
"""


TOKEN_NGRAM_N = 3


def q_token_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination in TOKEN space: every 50th document plays
    the eval set (same split as the text-shingle gate); overlap is counted
    over distinct token-trigram rolling-hash ids."""
    from ..operators import tokens as tok

    d = similarity.spread_small_scan(_t(spark, sf_dir, "documents"))
    return tok.token_ngram_contamination(
        d.filter(F.col("doc_id") % 50 != 0),
        d.filter(F.col("doc_id") % 50 == 0),
        n=TOKEN_NGRAM_N,
        vocab_size=TOKEN_VOCAB,
    )


def _token_contamination_sql() -> str:
    toks = TOKENIZE_SQL.format(norm=NORM_SQL, vocab=TOKEN_VOCAB)
    # trigram rolling hash over the hashed ids, 1-based windows, distinct
    gram = (
        "((toks[i] * 131 + toks[i+1]) % 2147483647 * 131 + toks[i+2]) % 2147483647"
    )
    grams = (
        f"CASE WHEN len(toks) >= {TOKEN_NGRAM_N} THEN "
        f"list_distinct(list_transform(range(1, len(toks) - {TOKEN_NGRAM_N} + 2), i -> {gram})) "
        "ELSE [] END"
    )
    return f"""
WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
bench AS (
  SELECT DISTINCT unnest({grams}) AS gram FROM t WHERE doc_id % 50 = 0
),
g AS (
  SELECT doc_id, unnest({grams}) AS gram FROM t WHERE doc_id % 50 <> 0
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_ngrams,
       CAST(sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS INT)
         AS n_contaminated
FROM g GROUP BY doc_id
"""


DOMAIN_CAP = 10
DOMAIN_CAP_SALT = "cap-v1"


def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: at most DOMAIN_CAP docs per source,
    selected by salted-hash rank (operators/sampling.py
    ``sample_domain_cap`` — the skew-safe two-phase top-cap; the oracle
    states the same selection as a rank window, which is correct SQL but
    the single-reducer-per-domain shape the Spark side deliberately
    avoids)."""
    from ..operators.sampling import sample_domain_cap

    d = _t(spark, sf_dir, "documents")
    return sample_domain_cap(d, "source", DOMAIN_CAP, salt=DOMAIN_CAP_SALT)


def _domain_cap_sql() -> str:
    h = H48_SQL.format(expr=f"CAST(doc_id AS VARCHAR) || '{DOMAIN_CAP_SALT}'")
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY ({h}) ASC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= {DOMAIN_CAP}
"""


BOILERPLATE_TOPK = 25


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detection: the top-K character 5-grams by
    document frequency (text_dedup.top_ngrams) over the shared staged
    shingle table."""
    return text_dedup.top_ngrams(
        _t(spark, sf_dir, "documents"), k=BOILERPLATE_TOPK, min_df=2,
        shingles=_staged_shingles(spark, sf_dir),
    )


def _boilerplate_sql() -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({SHINGLES_SQL.format(n=NORM_SQL)}) AS shingle
  FROM documents
)
SELECT shingle, CAST(count(*) AS BIGINT) AS df
FROM sh GROUP BY shingle HAVING count(*) >= 2
ORDER BY df DESC, shingle ASC LIMIT {BOILERPLATE_TOPK}
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.col("doc_id"), text.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, n=5, max_df=20,
        shingles=_staged_shingles(spark, sf_dir),
    )


SQL_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, unnest({SHINGLES_SQL.format(n=NORM_SQL)}) AS shingle
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), rare AS (
  SELECT * FROM sh WHERE shingle IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 20
  )
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter, sa.set_size AS size_a, sb.set_size AS size_b,
       round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= 0.5
"""

MINHASH_K_ORACLE = 8


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), k=MINHASH_K_ORACLE,
        shingles=_staged_shingles(spark, sf_dir),
    )


def _minhash_sql() -> str:
    h = H48_SQL.format(expr="s")
    mins = ",\n       ".join(
        f"CAST(list_min(list_transform(sh, s -> ({MINHASH_A[j]} * ({h}) + {MINHASH_B[j]}) % {MINHASH_P})) AS BIGINT) AS mh{j}"
        for j in range(MINHASH_K_ORACLE)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {SHINGLES_SQL.format(n=NORM_SQL)} AS sh FROM documents
)
SELECT doc_id,
       {mins}
FROM base
"""


SIMHASH_BITS_ORACLE = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_dedup.simhash(_t(spark, sf_dir, "documents"), bits=SIMHASH_BITS_ORACLE)


def _simhash_sql() -> str:
    h = H48_SQL.format(expr="w")
    sums = ",\n       ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS_ORACLE)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS_ORACLE)
    )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array({NORM_SQL}, ' ')) AS w FROM documents
), agg AS (
  SELECT doc_id,
       {sums}
  FROM words WHERE length(w) > 0 GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM agg
"""


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_dedup.simhash_near_duplicates(
        _t(spark, sf_dir, "documents"), max_hamming=3, bits=SIMHASH_BITS_ORACLE
    )


def _simhash_neardup_sql() -> str:
    """Band-rotation candidates + exact bit_count verification, over the
    (already-oracled) simhash fingerprints. bands = max_hamming+1 = 4,
    band_width = ceil(16/4) = 4 bits."""
    h = H48_SQL.format(expr="w")
    sums = ",\n       ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS_ORACLE)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS_ORACLE)
    )
    bands = " OR ".join(
        f"((a.simhash >> {b * 4}) & 15 = (b.simhash >> {b * 4}) & 15)" for b in range(4)
    )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(regexp_split_to_array({NORM_SQL}, ' ')) AS w FROM documents
), agg AS (
  SELECT doc_id,
       {sums}
  FROM words WHERE length(w) > 0 GROUP BY doc_id
), sig AS (
  SELECT doc_id, {fp} AS simhash FROM agg
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({bands})
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, queries, k=3)


# dot/norm computed as sequential sums of per-element DOUBLE products —
# bit-identical to Spark's F.aggregate(zip_with(...)) left fold (DuckDB's
# list_dot_product accumulates in float32 and diverges at the 6th decimal)
_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

SQL_ANN_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_DOT.format(a='q.qv', b='e.embedding')}
               / (sqrt({_DOT.format(a='q.qv', b='q.qv')}) * sqrt({_DOT.format(a='e.embedding', b='e.embedding')})), 6)
           AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM ranked WHERE rank <= 3
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=MINHASH_K_ORACLE, bands=4, threshold=0.375,
        sig=_staged_minhash_sig(spark, sf_dir, MINHASH_K_ORACLE),
    )


def _minhash_lsh_sql() -> str:
    """Banded LSH over the (already-oracled) signatures: candidates where
    any of 4 bands (2 rows each) agree; score = matching minhashes / k."""
    h = H48_SQL.format(expr="s")
    mins = ",\n       ".join(
        f"CAST(list_min(list_transform(sh, s -> ({MINHASH_A[j]} * ({h}) + {MINHASH_B[j]}) % {MINHASH_P})) AS BIGINT) AS mh{j}"
        for j in range(MINHASH_K_ORACLE)
    )
    bands = " OR ".join(
        f"(a.mh{2 * b} = b.mh{2 * b} AND a.mh{2 * b + 1} = b.mh{2 * b + 1})" for b in range(4)
    )
    agree = " + ".join(f"(CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END)" for j in range(MINHASH_K_ORACLE))
    return f"""
WITH base AS (
  SELECT doc_id, {SHINGLES_SQL.format(n=NORM_SQL)} AS sh FROM documents
), sig AS (
  SELECT doc_id,
       {mins}
  FROM base
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(({agree}) / {MINHASH_K_ORACLE}.0, 6) AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({bands})
WHERE round(({agree}) / {MINHASH_K_ORACLE}.0, 6) >= 0.375
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clustering: minhash-LSH pair edges (same
    params and staged shingles as the minhash_lsh_pairs gate) closed
    under connectivity; one canonical survivor per cluster."""
    docs = _t(spark, sf_dir, "documents")
    pairs = text_dedup.minhash_lsh_pairs(
        docs, k=MINHASH_K_ORACLE, bands=4, threshold=0.375,
        sig=_staged_minhash_sig(spark, sf_dir, MINHASH_K_ORACLE),
    )
    return components.dedup_clusters(
        docs, pairs,
        scratch_dir=os.path.join(_stage_root(_input_marker(sf_dir, ["documents"])), "cc_stage"),
        # minhash_lsh_pairs emits each pair exactly once (first matching
        # band) with id_a < id_b, so CC skips its defensive 29M-group
        # distinct and runs the oriented round-1 large-star
        edges_distinct=True,
        edges_oriented=True,
        # per-partition union-find spanning forest before the stage-0
        # write: the star rounds see O(nodes) edges instead of the
        # O(cluster²) pair volume — result-identical (connectivity- and
        # node-set-preserving; see _contract_partitions)
        pre_contract=True,
    )


def _dedup_clusters_sql() -> str:
    """Oracle: DuckDB recursive-CTE reachability over the bidirectional
    minhash-pair edges — component = min reachable doc_id. Quadratic in
    component size, fine at oracle scale; the Spark side is the O(log n)
    star-contraction that survives 10^10 nodes."""
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_lsh_sql()}
), bi AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, bi.b FROM reach r JOIN bi ON bi.a = r.node
)
SELECT src AS doc_id,
       min(node) AS component_id,
       (src = min(node)) AS is_canonical
FROM reach GROUP BY src
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_duplicates(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=3
    )


def _embedding_neardup_sql() -> str:
    """Replicates the deterministic ±1 sign-LSH planes (similarity.py
    ``_plane_sign``: +1 iff (d*(b+3)+b*b)%7<3) so the blocking — and thus
    the result set — matches the Spark operator exactly."""
    def plane(b: int, v: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({v}, range(len({v}))), "
            f"p -> CAST(p[1] AS DOUBLE) * (CASE WHEN (p[2] * {b + 3} + {b * b}) % 7 < 3 THEN 1.0 ELSE -1.0 END)))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane(b, 'embedding')} > 0 THEN {1 << b} ELSE 0 END)" for b in range(3)
    )
    dot = _DOT
    return f"""
WITH v AS (
  SELECT vec_id, embedding, {bucket} AS bkt FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({dot.format(a='a.embedding', b='b.embedding')}
             / (sqrt({dot.format(a='a.embedding', b='a.embedding')})
              * sqrt({dot.format(a='b.embedding', b='b.embedding')})), 6) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.bkt = b.bkt
WHERE round({dot.format(a='a.embedding', b='b.embedding')}
            / (sqrt({dot.format(a='a.embedding', b='a.embedding')})
             * sqrt({dot.format(a='b.embedding', b='b.embedding')})), 6) >= 0.4
"""


_IVF_CENTROIDS = os.path.join(_WORK, "ivf_centroids")

# squared-L2 between two DOUBLE lists, sequential fold (bit-compatible with
# Spark's F.aggregate(zip_with(...)) — same rationale as _DOT)
_SQDIST = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)


def q_ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k. The iterative k-means quantizer is not
    SQL-expressible, so its (deterministic) centroids are staged as parquet
    for the oracle, which independently re-derives everything downstream of
    them: corpus cell assignment, query probing, scoring, ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    n_emb = emb.count()
    assigned, cents = similarity.ivf_assign(emb, n_centroids=8, n_vectors=n_emb)

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_IVF_CENTROIDS, exist_ok=True)
    tbl = pa.table(
        {"cell": [i for i, _ in cents], "centroid": [c for _, c in cents]},
        schema=pa.schema([("cell", pa.int32()), ("centroid", pa.list_(pa.float64()))]),
    )
    pq.write_table(tbl, os.path.join(_IVF_CENTROIDS, "cents.parquet"))
    # freshness marker (same contract as the replay staging): the oracle
    # verifies the centroids were derived from THIS sf dir's embeddings
    pq.write_table(
        pa.table({"n_vecs": [n_emb]}),
        os.path.join(_IVF_CENTROIDS, "marker.parquet"),
    )
    return similarity.cosine_topk_ivf(
        emb, queries, k=3, n_centroids=8, n_probe=2, assigned=assigned, cents=cents
    )


def _ivf_sql() -> str:
    """Everything downstream of the staged centroids, in SQL: argmin cell
    assignment (ties → lowest cell), n_probe=2 nearest cells per query,
    within-cell cosine scoring, rank by (cos DESC, id ASC)."""
    d_ec = _SQDIST.format(a="e.embedding", b="c.centroid")
    dot = _DOT
    return f"""
WITH cent AS (
  -- freshness gate: load-bearing WHERE so the optimizer cannot prune the
  -- error() branch; fires when the staged centroids were derived from a
  -- different sf dir's embeddings than the one being compared against
  SELECT * FROM read_parquet('{_IVF_CENTROIDS}/cents.parquet')
  WHERE CASE WHEN (SELECT n_vecs FROM read_parquet('{_IVF_CENTROIDS}/marker.parquet'))
             = (SELECT count(*) FROM embeddings)
        THEN TRUE
        ELSE error('stale IVF centroid staging: run the Spark '
                   'ann_cosine_topk_ivf query for this sf dir first')
        END
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_ec} ASC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
probe AS (
  SELECT query_id, qv, cell FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d_ec} ASC, c.cell ASC) AS rn
    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({dot.format(a='p.qv', b='a.embedding')}
               / (sqrt({dot.format(a='p.qv', b='p.qv')}) * sqrt({dot.format(a='a.embedding', b='a.embedding')})), 6)
           AS cos_sim
  FROM assigned a JOIN probe p ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM ranked WHERE rank <= 3
"""


_PQ_CODEBOOK = os.path.join(_WORK, "pq_codebook")

def _staged_pq_codebook(spark: SparkSession, sf_dir: str, m: int, ksub: int):
    """(row count, trained codebook) of `embeddings`, staged as a value:
    pq_train is deterministic in (corpus, m, ksub, n_vectors), and BOTH PQ
    gates train the identical codebook, so training once replaces a
    per-call Lloyd re-run. The parquet each query writes for its oracle is
    unchanged (and byte-identical per run)."""

    def build(_path: str) -> tuple[int, list]:
        from ..operators import pq

        emb = _t(spark, sf_dir, "embeddings")
        n_emb = emb.count()
        return n_emb, pq.pq_train(emb, m=m, ksub=ksub, n_vectors=n_emb)

    return _stage_once("pq_codebook", sf_dir, ["embeddings"], (m, ksub), build)


def _write_codebook(stage_dir: str, n_emb: int, codebook: list) -> None:
    """The codebook and its row-count marker as the parquet the oracle SQL
    reads back (see _pq_adc_ctes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_pa

    os.makedirs(stage_dir, exist_ok=True)
    tbl = pa.table(
        {
            "j": [j for j, _c, _cw in codebook],
            "code": [c for _j, c, _cw in codebook],
            "codeword": [cw for _j, _c, cw in codebook],
        },
        schema=pa.schema(
            [("j", pa.int32()), ("code", pa.int32()), ("codeword", pa.list_(pa.float64()))]
        ),
    )
    pq_pa.write_table(tbl, os.path.join(stage_dir, "cb.parquet"))
    pq_pa.write_table(pa.table({"n_vecs": [n_emb]}), os.path.join(stage_dir, "marker.parquet"))
PQ_M = 4
PQ_KSUB = 16


def q_ann_cosine_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py). Like the IVF
    gate, the iterative per-subspace k-means is not SQL-expressible, so
    the (deterministic) trained codebook is staged as parquet and the
    oracle independently re-derives everything downstream of it: subspace
    arg-min encoding, the reconstructed norms, the per-query dot-product
    LUT, the ADC cosine, and the rank."""
    from ..operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    # count + codebook come from the staging (the count also serves the
    # oracle's staleness marker; the manifest/catalog supplies it in a real
    # deployment)
    n_emb, codebook = _staged_pq_codebook(spark, sf_dir, PQ_M, PQ_KSUB)
    _write_codebook(_PQ_CODEBOOK, n_emb, codebook)
    return pq.cosine_topk_pq(emb, queries, k=3, codebook=codebook)


def _pq_adc_ctes(stage_dir: str, gate_name: str) -> str:
    """The shared ADC CTE prefix downstream of a staged PQ codebook:
    subspace slices (dim-agnostic: subdim = len(embedding) // m), arg-min
    codes (ties → lowest code), reconstructed norm and per-query LUT
    folded in subspace order (list(x ORDER BY j) → list_sum, matching
    Spark's sorted-array sequential fold), ADC cosine rounded to 6,
    ranked by (cos DESC, id ASC)."""
    sd = "(len(e.embedding) // {m})".format(m=PQ_M)
    d_sc = _SQDIST.format(a="s.sv", b="c.codeword")
    dot = _DOT
    return f"""
WITH cb AS (
  SELECT * FROM read_parquet('{stage_dir}/cb.parquet')
  WHERE CASE WHEN (SELECT n_vecs FROM read_parquet('{stage_dir}/marker.parquet'))
             = (SELECT count(*) FROM embeddings)
        THEN TRUE
        ELSE error('stale PQ codebook staging: run the Spark '
                   '{gate_name} query for this sf dir first')
        END
),
cbn AS (
  SELECT j, code, codeword, {dot.format(a='codeword', b='codeword')} AS n2 FROM cb
),
sub AS (
  SELECT e.vec_id, t.j,
         list_slice(e.embedding, t.j * {sd} + 1, (t.j + 1) * {sd}) AS sv
  FROM embeddings e CROSS JOIN (SELECT unnest(range({PQ_M})) AS j) t
),
enc AS (
  SELECT vec_id, j, code, n2 FROM (
    SELECT s.vec_id, s.j, c.code, c.n2,
           row_number() OVER (PARTITION BY s.vec_id, s.j
                              ORDER BY {d_sc} ASC, c.code ASC) AS rn
    FROM sub s JOIN cbn c ON c.j = s.j
  ) WHERE rn = 1
),
vecn AS (
  SELECT vec_id, list_sum(list(n2 ORDER BY j)) AS approx_n2 FROM enc GROUP BY vec_id
),
q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qv,
         sqrt({dot.format(a='e.embedding', b='e.embedding')}) AS qnorm
  FROM embeddings e WHERE e.vec_id < 5
),
qsub AS (
  SELECT q.query_id, t.j,
         list_slice(q.qv, t.j * (len(q.qv) // {PQ_M}) + 1, (t.j + 1) * (len(q.qv) // {PQ_M})) AS sv,
         q.qnorm
  FROM q CROSS JOIN (SELECT unnest(range({PQ_M})) AS j) t
),
lut AS (
  SELECT s.query_id, c.j, c.code, {dot.format(a='s.sv', b='c.codeword')} AS contrib, s.qnorm
  FROM qsub s JOIN cbn c ON c.j = s.j
),
scored AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         list_sum(list(l.contrib ORDER BY l.j)) AS adot,
         any_value(l.qnorm) AS qnorm
  FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT s.query_id, s.neighbor_id,
         round(s.adot / (s.qnorm * sqrt(v.approx_n2)), 6) AS cos_sim,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.adot / (s.qnorm * sqrt(v.approx_n2)), 6) DESC,
                                     s.neighbor_id ASC) AS rank
  FROM scored s JOIN vecn v ON v.vec_id = s.neighbor_id
)"""


def _pq_sql() -> str:
    return (
        _pq_adc_ctes(_PQ_CODEBOOK, "ann_cosine_topk_pq")
        + "\nSELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim "
        "FROM ranked WHERE rank <= 3\n"
    )


_PQ_RR_CODEBOOK = os.path.join(_WORK, "pq_rr_codebook")
PQ_RERANK_K = 3
PQ_RERANK_C = 12


def q_ann_cosine_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC retrieval + exact re-rank (operators/pq.cosine_topk_pq_rerank):
    the PQ code sweep nominates c_factor×k candidates per query, and only
    those rows' float vectors are read back for exact cosine ranking —
    the pattern a production retrieval stack runs. The oracle re-derives
    the ADC pool AND the exact re-rank downstream of the staged codebook."""
    from ..operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    # identical (m, ksub) params as the plain PQ gate -> one shared
    # trained codebook (see _staged_pq_codebook)
    n_emb, codebook = _staged_pq_codebook(spark, sf_dir, PQ_M, PQ_KSUB)
    _write_codebook(_PQ_RR_CODEBOOK, n_emb, codebook)
    return pq.cosine_topk_pq_rerank(
        emb, queries, k=PQ_RERANK_K, c_factor=PQ_RERANK_C // PQ_RERANK_K, codebook=codebook
    )


def _pq_rerank_sql() -> str:
    dot = _DOT
    exact = (
        f"round({dot.format(a='q.qv', b='e.embedding')} "
        f"/ (q.qnorm * sqrt({dot.format(a='e.embedding', b='e.embedding')})), 6)"
    )
    return (
        _pq_adc_ctes(_PQ_RR_CODEBOOK, "ann_cosine_topk_pq_rerank")
        + f""",
pool AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= {PQ_RERANK_C}
),
rr AS (
  SELECT p.query_id, p.neighbor_id, {exact} AS cos_sim,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY {exact} DESC, p.neighbor_id ASC) AS rank
  FROM pool p
  JOIN embeddings e ON e.vec_id = p.neighbor_id
  JOIN q ON q.query_id = p.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim
FROM rr WHERE rank <= {PQ_RERANK_K}
"""
    )


ANN_LSH_PLANES = 3


def q_ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-bucketed approximate top-k — the SQL-expressible ANN scale
    path (the deterministic ±1 planes replicate exactly in the oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.cosine_topk_lsh(emb, queries, k=3, n_planes=ANN_LSH_PLANES)


def _ann_lsh_sql() -> str:
    """Replicates similarity._plane_sign buckets (+1 iff (d*(b+3)+b*b)%7<3)
    and the (cos DESC, id ASC) rank over within-bucket candidates."""
    def plane(b: int, v: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({v}, range(len({v}))), "
            f"p -> CAST(p[1] AS DOUBLE) * (CASE WHEN (p[2] * {b + 3} + {b * b}) % 7 < 3 THEN 1.0 ELSE -1.0 END)))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane(b, 'embedding')} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(ANN_LSH_PLANES)
    )
    dot = _DOT
    return f"""
WITH v AS (
  SELECT vec_id, embedding, {bucket} AS bkt FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bkt FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         round({dot.format(a='q.qv', b='v.embedding')}
               / (sqrt({dot.format(a='q.qv', b='q.qv')}) * sqrt({dot.format(a='v.embedding', b='v.embedding')})), 6)
           AS cos_sim
  FROM v JOIN q ON v.bkt = q.bkt
  WHERE v.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_sim FROM ranked WHERE rank <= 3
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-media round trip: every document becomes a REAL BMP/PNG/WAV
    container (headers = pure doc_id arithmetic, body = the text bytes);
    extract_features then parses dimensions / audio params back OUT OF THE
    BYTES by magic-byte sniffing + struct arithmetic. The oracle predicts
    each feature from the construction arithmetic, so the gate verifies
    the full build→parse loop — header fields that merely echoed metadata
    would pass trivially; these are read at byte offsets."""
    media = multimodal.documents_as_typed_media(_t(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text))
            + CASE doc_id % 3 WHEN 0 THEN 54 WHEN 1 THEN 33 ELSE 44 END AS INT) AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
            ELSE 'audio/wav' END AS mime,
       CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 317 + 1 AS INT) END AS width,
       CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 211 + 1 AS INT) END AS height,
       CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
       CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 2 + 1 AS INT) END AS channels,
       md5(text) AS checksum
FROM documents
"""


def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.documents_as_media(_t(spark, sf_dir, "documents"))
    return multimodal.frame_sample_plan(media, every_n_bytes=64)


SQL_FRAME_SAMPLE = """
SELECT doc_id AS media_id,
       CAST(off // 64 AS INT) AS frame_idx,
       CAST(off AS INT) AS byte_offset
FROM (
  SELECT doc_id, unnest(generate_series(0, greatest(octet_length(encode(text)) - 1, 0), 64)) AS off
  FROM documents
)
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def queries() -> dict[str, QueryFn]:
    return {
        "cdc_last_writer_wins": q_cdc_last_writer_wins,
        "cdc_event_identity_dedup": q_cdc_event_identity_dedup,
        "cdc_op_classify": q_cdc_op_classify,
        "cdc_resolved_frontier": q_cdc_resolved_frontier,
        "cdc_merge_apply": q_cdc_merge_apply,
        "multitable_routing": q_multitable_routing,
        "backfill_incremental": q_backfill_incremental,
        "table_changes_cdf": q_table_changes_cdf,
        "hlc_parse_roundtrip": q_hlc_parse_roundtrip,
        "envelope_extract": q_envelope_extract,
        "bytea_roundtrip": q_bytea_roundtrip,
        "temporal_micros": q_temporal_micros,
        "alltypes_roundtrip": q_alltypes_roundtrip,
        "schema_defaults": q_schema_defaults,
        "text_analysis": q_text_analysis,
        "pii_redaction": q_pii_redaction,
        "repetition_signals": q_repetition_signals,
        "benchmark_contamination": q_benchmark_contamination,
        "token_stats": q_token_stats,
        "sequence_packing": q_sequence_packing,
        "sequence_packing_slices": q_sequence_packing_slices,
        "pack_assembly": q_pack_assembly,
        "stratified_sample": q_stratified_sample,
        "domain_cap_sample": q_domain_cap_sample,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "token_dedup_exact": q_token_dedup_exact,
        "token_ngram_contamination": q_token_contamination,
        "stream_dedup": q_stream_dedup,
        "stream_windowed_counts": q_stream_windowed_counts,
        "dedup_exact": q_dedup_exact,
        "corpus_curation": q_corpus_curation,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "simhash": q_simhash,
        "simhash_neardup": q_simhash_neardup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_topk_lsh": q_ann_cosine_topk_lsh,
        "ann_cosine_topk_ivf": q_ann_cosine_topk_ivf,
        "ann_cosine_topk_pq": q_ann_cosine_topk_pq,
        "ann_cosine_topk_pq_rerank": q_ann_cosine_topk_pq_rerank,
        "embedding_neardup": q_embedding_neardup,
        "multimodal_features": q_multimodal_features,
        "frame_sample_plan": q_frame_sample_plan,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_last_writer_wins": SQL_CDC_LWW,
        "cdc_event_identity_dedup": SQL_CDC_IDENTITY,
        "cdc_op_classify": SQL_CDC_OP_CLASSIFY,
        "cdc_resolved_frontier": SQL_CDC_FRONTIER,
        "cdc_merge_apply": SQL_CDC_MERGE_APPLY,
        "multitable_routing": SQL_MULTITABLE,
        "backfill_incremental": SQL_BACKFILL,
        "table_changes_cdf": SQL_TABLE_CHANGES,
        "hlc_parse_roundtrip": SQL_HLC_ROUNDTRIP,
        "envelope_extract": SQL_ENVELOPE_EXTRACT,
        "bytea_roundtrip": SQL_BYTEA_ROUNDTRIP,
        "temporal_micros": SQL_TEMPORAL_MICROS,
        "alltypes_roundtrip": SQL_ALLTYPES,
        "schema_defaults": SQL_SCHEMA_DEFAULTS,
        "text_analysis": SQL_TEXT_ANALYSIS,
        "pii_redaction": SQL_PII_REDACTION,
        "repetition_signals": SQL_REPETITION_SIGNALS,
        "benchmark_contamination": SQL_BENCHMARK_CONTAMINATION,
        "token_stats": _token_stats_sql(),
        "sequence_packing": SQL_SEQUENCE_PACKING,
        "sequence_packing_slices": SQL_SEQUENCE_PACKING_SLICES,
        "pack_assembly": SQL_PACK_ASSEMBLY,
        "stratified_sample": _stratified_sample_sql(),
        "domain_cap_sample": _domain_cap_sql(),
        "boilerplate_ngrams": _boilerplate_sql(),
        "token_dedup_exact": _token_dedup_sql(),
        "token_ngram_contamination": _token_contamination_sql(),
        "stream_dedup": SQL_STREAM_DEDUP,
        "stream_windowed_counts": SQL_STREAM_WINDOWED,
        "dedup_exact": SQL_DEDUP_EXACT,
        "corpus_curation": _corpus_curation_sql(),
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "minhash_signatures": _minhash_sql(),
        "minhash_lsh_pairs": _minhash_lsh_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "simhash": _simhash_sql(),
        "simhash_neardup": _simhash_neardup_sql(),
        "ann_cosine_topk": SQL_ANN_TOPK,
        "ann_cosine_topk_lsh": _ann_lsh_sql(),
        "ann_cosine_topk_ivf": _ivf_sql(),
        "ann_cosine_topk_pq": _pq_sql(),
        "ann_cosine_topk_pq_rerank": _pq_rerank_sql(),
        "embedding_neardup": _embedding_neardup_sql(),
        "multimodal_features": SQL_MULTIMODAL_FEATURES,
        "frame_sample_plan": SQL_FRAME_SAMPLE,
    }
