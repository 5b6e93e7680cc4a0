"""Enriched-envelope parsing: raw changefeed records → typed change rows.

Reference hot path: ``processChangefeedEvent``
(CockroachDBStreamingChangeEventSource.java:770-860) — Jackson parse,
optional ``payload`` unwrap (:898-901), resolved-message routing (:780-807),
op extraction with before/after fallback (:908-943), column-aligned
projection (CockroachDBChangeRecordEmitter.java:141-156), and the per-type
conversions of §1.2.

Spark-first design: ONE ``from_json`` over the whole envelope (JVM,
whole-stage codegen, digit-exact decimals via declared DecimalType), then
pure Column expressions for payload unwrap / op fallback / HLC split /
byte + temporal conversion. No Python in the per-row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.converters import ColumnSpec, json_parse_type, post_convert, spark_output_type
from ..functions.hlc import hlc_logical, hlc_wall_ns

# Raw record shape of the replay log (the Kafka ConsumerRecord analogue:
# topic/partition/offset identify a record exactly as the reference's
# consumer-offset map does — CockroachDBOffsetContext.java:37-53).
RAW_LOG_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), False),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

SOURCE_BLOCK = T.StructType(
    [
        T.StructField("database_name", T.StringType(), True),
        T.StructField("schema_name", T.StringType(), True),
        T.StructField("table_name", T.StringType(), True),
        T.StructField("cluster", T.StringType(), True),
        T.StructField("ts_hlc", T.StringType(), True),
        T.StructField("resolved_ts", T.StringType(), True),
        T.StructField("ts_ns", T.LongType(), True),
        T.StructField("snapshot", T.StringType(), True),
    ]
)


def row_image_struct(specs: list[ColumnSpec]) -> T.StructType:
    return T.StructType([T.StructField(s.name, json_parse_type(s), True) for s in specs])


def envelope_schema(specs: list[ColumnSpec]) -> T.StructType:
    """from_json schema for the full enriched envelope, tolerating the
    optional ``{"payload": ...}`` wrapper (resolvePayload, :898-901)."""
    img = row_image_struct(specs)
    inner = [
        T.StructField("before", img, True),
        T.StructField("after", img, True),
        T.StructField("op", T.StringType(), True),
        T.StructField("ts_ns", T.LongType(), True),
        T.StructField("updated", T.StringType(), True),
        T.StructField("resolved", T.StringType(), True),
        T.StructField("source", SOURCE_BLOCK, True),
    ]
    return T.StructType(
        inner
        + [
            T.StructField("payload", T.StructType(inner), True),
            # populated by the permissive JSON parser on corrupt input —
            # drives the poison-event quarantine (X3)
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )


def output_image_struct(specs: list[ColumnSpec]) -> T.StructType:
    return T.StructType([T.StructField(s.name, spark_output_type(s), True) for s in specs])


def _converted_image(src: Column, specs: list[ColumnSpec]) -> Column:
    cols = [post_convert(s, src.getField(s.name)).alias(s.name) for s in specs]
    return F.when(src.isNull(), F.lit(None).cast(output_image_struct(specs))).otherwise(
        F.struct(*cols)
    )


def parse_changefeed(
    df: DataFrame,
    specs: list[ColumnSpec],
    pk_name: str,
    initial_scan: Column | bool = False,
    with_drift_keys: bool = True,
) -> DataFrame:
    """Raw log records → typed change rows.

    Output columns:
      seq, ts_ms, topic, table_name, op, commit_wall_ns, commit_logical,
      resolved, is_control, pk, before, after
    Control rows (resolved messages F1, blank/tombstone values F2) carry
    ``is_control=true`` and null ``op``.
    """
    env_t = envelope_schema(specs)
    pk_spec = next(s for s in specs if s.name == pk_name)
    pk_type = spark_output_type(pk_spec)

    env = F.from_json(
        F.col("value"), env_t, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}
    )

    def unwrap(field: str) -> Column:
        # payload wrapper wins when present (P1)
        return F.coalesce(env.getField("payload").getField(field), env.getField(field))

    before_raw = unwrap("before")
    after_raw = unwrap("after")
    op_raw = F.lower(F.trim(unwrap("op")))
    resolved = unwrap("resolved")
    src = unwrap("source")
    ts_ns = unwrap("ts_ns")

    blank = F.col("value").isNull() | (F.length(F.trim(F.col("value"))) == 0)  # F2 + tombstones
    # unparseable JSON → from_json yields a null struct; such events must be
    # quarantined, not misread as deletes (X3 error classification — the
    # reference's Jackson parse failure → retriable/quarantine path)
    is_malformed = ~blank & (env.isNull() | env.getField("_corrupt_record").isNotNull())
    is_control = blank | is_malformed | resolved.isNotNull()

    # op extraction with fallback (D2, extractOperation :908-943); initial
    # scan forces READ (D3, :909-911)
    init = F.lit(initial_scan) if isinstance(initial_scan, bool) else initial_scan
    op_inferred = (
        F.when(after_raw.isNull(), F.lit("d"))
        .when(before_raw.isNull(), F.lit("c"))
        .otherwise(F.lit("u"))
    )
    op = F.when(init, F.lit("r")).otherwise(
        F.when(op_raw.isin("c", "u", "d", "r"), op_raw).otherwise(op_inferred)
    )

    # commit timestamp: prefer the HLC in the source block, else ts_ns (C15)
    ts_hlc = src.getField("ts_hlc")
    wall = F.when(ts_hlc.isNotNull(), hlc_wall_ns(ts_hlc)).otherwise(
        F.coalesce(ts_ns, F.lit(0).cast("long"))
    )
    logical = F.when(ts_hlc.isNotNull(), hlc_logical(ts_hlc)).otherwise(F.lit(0).cast("long"))

    # message key: JSON array (sinkless) or object keyed by PK column —
    # both accepted (CockroachDBChangeRecordEmitter.java:88-119). A BYTES
    # primary key arrives as a bytea hex literal in the key and must decode
    # (taxlots fixture, CockroachDBAllTypesIT.java:115-161)
    key_obj = F.from_json(F.col("key"), T.StructType([T.StructField(pk_name, T.StringType(), True)]))
    key_arr = F.from_json(F.col("key"), T.ArrayType(T.StringType()))
    key_str = F.coalesce(key_obj.getField(pk_name), F.get(key_arr, 0))
    if isinstance(pk_type, T.BinaryType):
        from ..functions.converters import decode_bytes_literal

        key_pk = decode_bytes_literal(key_str)
    else:
        key_pk = key_str.cast(pk_type)

    # table resolution: source block first (S5), topic-name fallback (S4)
    topic_parts = F.split(F.col("topic"), r"\.")
    table_name = F.coalesce(
        src.getField("table_name"),
        F.get(topic_parts, F.size(topic_parts) - 1),
    )

    after_c = _converted_image(after_raw, specs)
    before_c = _converted_image(before_raw, specs)
    pk = F.coalesce(after_c.getField(pk_name).cast(pk_type), key_pk,
                    before_c.getField(pk_name).cast(pk_type))

    # raw after-image key set for exact drift detection (E1); deletes (no
    # after) contribute null and thus never trigger a refresh (:826-835).
    # EXPENSIVE: get_json_object re-parses the document (measured ~10x the
    # cost of the typed from_json at 32 cores), so the apply parse disables
    # it; the drift probe (pipeline.after_key_sets) selects it alone
    if with_drift_keys:
        after_keys = F.json_object_keys(
            F.coalesce(
                F.get_json_object("value", "$.payload.after"),
                F.get_json_object("value", "$.after"),
            )
        )
    else:
        after_keys = F.lit(None).cast(T.ArrayType(T.StringType()))

    return df.select(
        F.col("offset").alias("seq"),
        F.col("ts_ms"),
        F.col("topic"),
        table_name.alias("table_name"),
        F.when(is_control, F.lit(None).cast("string")).otherwise(op).alias("op"),
        wall.alias("commit_wall_ns"),
        logical.alias("commit_logical"),
        resolved.alias("resolved"),
        is_control.alias("is_control"),
        is_malformed.alias("is_malformed"),
        F.when(is_control, F.lit(None).cast(pk_type)).otherwise(pk).alias("pk"),
        after_keys.alias("after_keys"),
        before_c.alias("before"),
        after_c.alias("after"),
    )

