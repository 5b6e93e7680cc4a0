"""Envelope parsing: payload unwrap, op fallback, key shapes, resolved
routing, delete-key recovery (reference fixtures:
CockroachDBStreamingChangeEventSourceTest.java:57-144,
CockroachDBChangeRecordEmitter.java:88-119, FIXTURES.md §2)."""

import pytest
from pyspark.sql import Row

from debezium_connector_cockroachdb_spark.sources.envelope import parse_changefeed
from debezium_connector_cockroachdb_spark.sources.generator import TOKENIZED_SEQUENCES_SPECS
from debezium_connector_cockroachdb_spark.streaming.pipeline import after_key_sets

PK = "doc_id"


def mk_raw(spark, rows):
    data = [
        Row(topic="crdb.public.tokenized_sequences", partition=0, offset=i,
            ts_ms=0, key=k, value=v)
        for i, (k, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "topic string, partition int, offset long, ts_ms long, key string, value string"
    )


AFTER = '{"doc_id":"d1","tokens":[1,2,3],"n_tok":3,"source":"cc"}'
SRC = '{"schema_name":"public","table_name":"tokenized_sequences","ts_hlc":"1000.0000000002"}'


def parse(spark, rows, **kw):
    df = mk_raw(spark, rows)
    return parse_changefeed(df, TOKENIZED_SEQUENCES_SPECS, PK, **kw).collect()


def test_basic_insert(spark):
    [r] = parse(spark, [('["d1"]', f'{{"after":{AFTER},"op":"c","ts_ns":1000,"source":{SRC}}}')])
    assert r["op"] == "c"
    assert r["pk"] == "d1"
    assert r["commit_wall_ns"] == 1000
    assert r["commit_logical"] == 2  # from source.ts_hlc, not ts_ns
    assert list(r["after"]["tokens"]) == [1, 2, 3]
    assert r["table_name"] == "tokenized_sequences"
    assert not r["is_control"]


def test_payload_wrapper_unwrapped(spark):
    """resolvePayload (:898-901): {"payload": {...}} nesting tolerated."""
    [r] = parse(spark, [('["d1"]', f'{{"payload":{{"after":{AFTER},"op":"u","ts_ns":7}}}}')])
    assert r["op"] == "u"
    assert r["after"]["doc_id"] == "d1"
    assert r["commit_wall_ns"] == 7


def test_op_fallback_inference(spark):
    """extractOperation (:908-943): absent op inferred from before/after."""
    rows = [
        ('["d1"]', f'{{"after":{AFTER},"ts_ns":1}}'),                      # → c
        ('["d1"]', f'{{"before":{AFTER},"after":{AFTER},"ts_ns":2}}'),     # → u
        ('["d1"]', f'{{"before":{AFTER},"ts_ns":3}}'),                     # → d
    ]
    got = [r["op"] for r in sorted(parse(spark, rows), key=lambda r: r["seq"])]
    assert got == ["c", "u", "d"]


def test_initial_scan_forces_read(spark):
    [r] = parse(spark, [('["d1"]', f'{{"after":{AFTER},"op":"c","ts_ns":1}}')], initial_scan=True)
    assert r["op"] == "r"


def test_delete_key_from_message_key(spark):
    """dbz#2267: delete carries no after image; pk comes from the key —
    both key shapes accepted (array and object)."""
    rows = [
        ('["d9"]', '{"op":"d","ts_ns":5}'),
        ('{"doc_id":"d8"}', '{"op":"d","ts_ns":6}'),
    ]
    got = {r["pk"]: r["op"] for r in parse(spark, rows)}
    assert got == {"d9": "d", "d8": "d"}


def test_resolved_and_tombstone_are_control(spark):
    rows = [
        (None, '{"resolved":"1772695406971781718.0000000000"}'),
        ('["d1"]', None),   # tombstone
        ('["d1"]', "   "),  # blank value (F2)
    ]
    got = parse(spark, rows)
    assert all(r["is_control"] for r in got)
    assert all(r["op"] is None for r in got)
    resolved = [r["resolved"] for r in got if r["resolved"]]
    assert resolved == ["1772695406971781718.0000000000"]


def test_decimal_would_not_pass_through_double(spark):
    """The parse path uses from_json typed structs, never get_json_object
    (which would render 9999999999.9999… as 1.0E10)."""
    from debezium_connector_cockroachdb_spark.functions.converters import ColumnSpec
    specs = [ColumnSpec("id", "INT8"), ColumnSpec("amt", "DECIMAL", 28, 18)]
    rows = [('["1"]', '{"after":{"id":1,"amt":9999999999.999999999000000000},"op":"c","ts_ns":1}')]
    df = mk_raw(spark, rows)
    [r] = parse_changefeed(df, specs, "id").collect()
    assert str(r["after"]["amt"]) == "9999999999.999999999000000000"


def test_drift_probe_sees_new_fields_not_deletes(spark):
    """E1: new after-image fields detected; deletes (no after) never
    trigger (…StreamingChangeEventSource.java:826-835)."""
    rows = [
        ('["d1"]', f'{{"after":{AFTER},"op":"c","ts_ns":1}}'),
        ('["d2"]', '{"after":{"doc_id":"d2","tokens":[1],"n_tok":1,"source":"cc","lang":"en"},"op":"c","ts_ns":2}'),
        ('["d3"]', '{"op":"d","ts_ns":3}'),
    ]
    sets = after_key_sets(mk_raw(spark, rows), TOKENIZED_SEQUENCES_SPECS, PK)
    assert "lang" in set().union(*sets)
    df_del_only = mk_raw(spark, [('["d3"]', '{"op":"d","ts_ns":3}')])
    assert after_key_sets(df_del_only, TOKENIZED_SEQUENCES_SPECS, PK) == []


def test_table_from_topic_fallback(spark):
    [r] = parse(spark, [('["d1"]', f'{{"after":{AFTER},"op":"c","ts_ns":1}}')])
    assert r["table_name"] == "tokenized_sequences"  # no source block → topic suffix
