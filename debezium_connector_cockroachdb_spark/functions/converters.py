"""Per-type scalar conversions for changefeed values (C1–C13, SURVEY.md §1.2).

The reference maps each declared CockroachDB column type to a Kafka Connect
schema and converts the JSON value accordingly
(CockroachDBValueConverterProvider.java:60-350,
CockroachDBChangeRecordEmitter.java:163-238,
CockroachDBTemporalConversions.java). We map each type to

  * a *JSON parse type* — the Spark type used inside the ``from_json``
    struct for the envelope's ``before``/``after`` fields (decimals parse
    digit-exact this way; ``get_json_object`` would round-trip through
    double and lose precision — the dbz#2256 regression), and
  * a *post-conversion* Column expression applied after parsing (hex/base64
    byte decode, temporal normalization, ...). Vectors need none: the
    JSON parse type already reads them as ``array<double>``.

Everything is a built-in Spark expression: whole-stage codegen, no Python.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class ColumnSpec:
    """One captured column: name + declared CRDB type (information_schema
    analogue; the reference discovers these via JDBC —
    CockroachDBSchema.java:62-74)."""

    name: str
    crdb_type: str
    precision: int | None = None
    scale: int | None = None
    nullable: bool = True  # every mapped schema is optional (…Provider.java:142-146)
    # raw CRDB default-value SQL literal (e.g. "'PENDING':::STRING") from
    # information_schema; parsed by functions/defaults.py (C14) and applied
    # when reading rows written before the column existed. Function-call
    # defaults (now(), ...) stay None-filled — the DB computes those
    # (CockroachDBDefaultValueConverter.java:41-59).
    default_sql: str | None = None
    # binary.handling.mode for BYTES columns: "bytes" (BinaryType) |
    # "base64" | "hex" (string output) — …Provider.java:309-340
    binary_mode: str = "bytes"


def _base_type(crdb_type: str) -> str:
    t = crdb_type.strip().upper()
    t = re.sub(r"\(.*\)", "", t).strip()  # DECIMAL(10,2) → DECIMAL
    return t


_INT16 = {"INT2", "SMALLINT"}
_INT32 = {"INT4", "INT", "INTEGER"}
_INT64 = {"INT8", "BIGINT", "SERIAL", "BIGSERIAL"}
_FLOAT32 = {"FLOAT4", "REAL"}
_FLOAT64 = {"FLOAT8", "DOUBLE PRECISION", "FLOAT", "DOUBLE"}
_DECIMAL = {"NUMERIC", "DECIMAL", "DEC"}
_STRINGY = {
    "VARCHAR", "CHAR", "CHARACTER", "TEXT", "STRING", "NAME",
    "INTERVAL", "UUID", "INET", "ENUM", "BIT", "VARBIT",
    "GEOGRAPHY", "GEOMETRY", "JSON", "JSONB",
}
_BYTES = {"BYTEA", "BYTES", "BLOB"}

_ARRAY_ELEM_TYPES = {
    "INT2[]": T.ShortType(), "INT4[]": T.IntegerType(), "INT[]": T.IntegerType(),
    "INTEGER[]": T.IntegerType(), "INT8[]": T.LongType(), "BIGINT[]": T.LongType(),
    "FLOAT4[]": T.FloatType(), "FLOAT8[]": T.DoubleType(), "FLOAT[]": T.DoubleType(),
    "STRING[]": T.StringType(), "TEXT[]": T.StringType(), "VARCHAR[]": T.StringType(),
}


def json_parse_type(spec: ColumnSpec) -> T.DataType:
    """Spark type used for this column inside the envelope ``from_json``."""
    t = _base_type(spec.crdb_type)
    if t in {"BOOL", "BOOLEAN"}:
        return T.StringType()  # bool may arrive as true/"t"/"1"/"yes" (C1)
    if t in _INT16:
        return T.ShortType()
    if t in _INT32:
        return T.IntegerType()
    if t in _INT64:
        return T.LongType()
    if t in _FLOAT32:
        return T.FloatType()
    if t in _FLOAT64:
        return T.DoubleType()
    if t in _DECIMAL:
        # digit-exact: from_json parses the raw JSON number into DecimalType
        # without a double round-trip (regression dbz#2256,
        # ChangefeedJsonMapper.java:28-35 exact-BigDecimal analogue)
        p = spec.precision if spec.precision is not None else 38
        s = spec.scale if spec.scale is not None else 18
        return T.DecimalType(p, s)
    if t.endswith("[]"):
        elem = _ARRAY_ELEM_TYPES.get(t)
        if elem is not None:
            return T.ArrayType(elem)
        return T.StringType()  # DECIMAL[] etc. kept as JSON text (…Provider.java:159-169)
    if t == "VECTOR":
        return T.ArrayType(T.DoubleType())  # pgvector → array<double> (…Provider.java:181-184)
    # bytes, temporals and everything stringy arrive as JSON strings
    return T.StringType()


# --- post-conversion expressions -------------------------------------------

_TRUE_LITERALS = ["true", "t", "1", "yes", "y", "on"]


def convert_bool(col: Column) -> Column:
    """C1 — accepts true/t/1/yes (…Provider.java:212-223)."""
    c = F.lower(F.trim(col))
    return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(c.isin(_TRUE_LITERALS))


def decode_bytes_literal(col: Column) -> Column:
    """C5 — bytea hex literal ``\\x01ff`` (either prefix case) → binary;
    base64 fallback only for well-formed base64; anything undecodable →
    null, matching the reference's null-on-bad-input contract
    (decodeBytesLiteral, …Provider.java:358-388)."""
    hex_part = F.substring(col, 3, 1_000_000_000)
    is_hex = col.startswith("\\x") | col.startswith("\\X")
    valid_hex = hex_part.rlike("^([0-9a-fA-F]{2})*$")
    valid_b64 = col.rlike("^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$")
    return (
        F.when(col.isNull(), F.lit(None).cast("binary"))
        .when(is_hex & valid_hex, F.unhex(hex_part))
        .when(is_hex, F.lit(None).cast("binary"))
        .when(valid_b64, F.unbase64(col))
        .otherwise(F.lit(None).cast("binary"))
    )


def bytes_to_hex_literal(col: Column) -> Column:
    """Inverse of :func:`decode_bytes_literal` — emitter-side hex form
    (…Provider.java:390-396)."""
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("\\x"), F.lower(F.hex(col)))
    )


def normalize_zoned_timestamp(col: Column) -> Column:
    """C8 — TIMESTAMPTZ string fixups before parse: hour-only offset ``+HH``
    widened to ``+HH:MM``; zoneless interpreted as UTC
    (CockroachDBTemporalConversions.java:137-166)."""
    c = F.trim(col)
    widened = F.regexp_replace(c, r"([+-]\d{2})$", r"$1:00")
    zoneless = ~widened.rlike(r"(Z|[+-]\d{2}:\d{2})$")
    fixed = F.when(zoneless, F.concat(widened, F.lit("Z"))).otherwise(widened)
    return F.to_timestamp(fixed)


def normalize_zoned_timestamp_string(col: Column) -> Column:
    """String-out variant used for parity tests (reference emits the ISO
    string, not an epoch)."""
    return F.date_format(normalize_zoned_timestamp(col), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")


def convert_timestamp_micros(col: Column) -> Column:
    """C7 — TIMESTAMP (no tz) → int64 micros since epoch interpreted UTC,
    tolerating ``Z``/offset/zoneless forms
    (CockroachDBTemporalConversions.java:86-111). Session TZ must be UTC."""
    return F.unix_micros(normalize_zoned_timestamp(col))


def convert_time_micros(col: Column) -> Column:
    """C9 — TIME → int64 micros since midnight
    (CockroachDBTemporalConversions.java:118-129)."""
    ts = F.to_timestamp(F.concat(F.lit("1970-01-01T"), F.trim(col)))
    return F.unix_micros(ts)


def normalize_zoned_time(col: Column) -> Column:
    """C10 — TIMETZ: widen hour-only offset ``+HH`` → ``+HH:MM``; keep string
    (CockroachDBTemporalConversions.java:175-204)."""
    return F.regexp_replace(F.trim(col), r"([+-]\d{2})$", r"$1:00")


def convert_date(col: Column) -> Column:
    """C6 — DATE string → DateType (days-since-epoch under Arrow/parquet;
    …Emitter.java:244-256)."""
    return F.to_date(col)


def apply_binary_handling(decoded: Column, mode: str) -> Column:
    """binary.handling.mode output shaping (…Provider.java:309-340):
    ``bytes`` keeps BinaryType; ``base64``/``hex`` re-encode to strings for
    sinks that can't carry raw bytes."""
    if mode == "bytes":
        return decoded
    if mode == "base64":
        return F.base64(decoded)
    if mode == "hex":
        return F.lower(F.hex(decoded))
    raise ValueError(f"unknown binary.handling.mode {mode!r}")


def post_convert(spec: ColumnSpec, col: Column) -> Column:
    """Dispatch C1–C13 for one column after ``from_json``."""
    t = _base_type(spec.crdb_type)
    if t in {"BOOL", "BOOLEAN"}:
        return convert_bool(col)
    if t in _BYTES:
        return apply_binary_handling(decode_bytes_literal(col), spec.binary_mode)
    if t == "DATE":
        return convert_date(col)
    if t == "TIME":
        return convert_time_micros(col)
    if t == "TIMETZ":
        return normalize_zoned_time(col)
    if t == "TIMESTAMP":
        return convert_timestamp_micros(col)
    if t in {"TIMESTAMPTZ", "TIMESTAMP WITH TIME ZONE"}:
        return normalize_zoned_timestamp(col)
    # decimals, ints, floats, arrays, vector: already typed by from_json;
    # interval/json/uuid/inet/enum/bit/geo: string passthrough (§1.2)
    return col


def spark_output_type(spec: ColumnSpec) -> T.DataType:
    """Type of the column after :func:`post_convert` (the engine's analogue
    of the Connect schema the reference registers per column)."""
    t = _base_type(spec.crdb_type)
    if t in {"BOOL", "BOOLEAN"}:
        return T.BooleanType()
    if t in _BYTES:
        return T.BinaryType() if spec.binary_mode == "bytes" else T.StringType()
    if t == "DATE":
        return T.DateType()
    if t in {"TIME", "TIMESTAMP"}:
        return T.LongType()  # micros (MicroTime / MicroTimestamp analogues)
    if t == "TIMETZ":
        return T.StringType()
    if t in {"TIMESTAMPTZ", "TIMESTAMP WITH TIME ZONE"}:
        return T.TimestampType()
    return json_parse_type(spec)
