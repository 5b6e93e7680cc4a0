"""Per-key last-writer-wins (D1) — reference semantics from
CockroachDBStreamingChangeEventSourceTest.java:57-144 and FIXTURES §4."""

from pyspark.sql import Row

from debezium_connector_cockroachdb_spark.operators.dedup import dedupe_batch

COLS = ("table_name", "op", "commit_wall_ns", "commit_logical", "seq", "pk", "val")


def mk(spark, rows):
    return spark.createDataFrame(
        [Row(**dict(zip(COLS, r))) for r in rows],
        "table_name string, op string, commit_wall_ns long, commit_logical long, seq long, pk string, val string",
    )


def test_duplicate_delivery_dropped(spark):
    """Same (table, op, ts, key) delivered twice → once (dbz#2283)."""
    df = mk(spark, [
        ("t", "c", 100, 0, 1, "a", "v1"),
        ("t", "c", 100, 0, 2, "a", "v1"),  # exact redelivery, later offset
    ])
    assert dedupe_batch(df).count() == 1


def test_same_ts_different_keys_both_kept(spark):
    """Two rows of one txn share ts_ns — the key separates them."""
    df = mk(spark, [
        ("t", "c", 100, 0, 1, "a", "v1"),
        ("t", "c", 100, 0, 2, "b", "v2"),
    ])
    assert dedupe_batch(df).count() == 2


def test_same_key_same_ts_delete_insert_distinct(spark):
    """Same-ts delete+insert of one key are two events (:866-881); arrival
    order (seq) breaks the tie."""
    df = mk(spark, [
        ("t", "d", 100, 0, 1, "a", None),
        ("t", "c", 100, 0, 2, "a", "v2"),
    ])
    [w] = dedupe_batch(df).collect()
    assert w["op"] == "c" and w["seq"] == 2  # later arrival wins


def test_last_writer_wins_out_of_order(spark):
    """Events arrive ts-descending inside a batch → max ts survives
    (FIXTURES scenario 12)."""
    df = mk(spark, [
        ("t", "u", 300, 0, 1, "a", "newest"),
        ("t", "u", 200, 0, 2, "a", "mid"),
        ("t", "u", 100, 0, 3, "a", "oldest"),
        ("t", "u", 300, 1, 4, "a", "logical-wins"),  # same wall, higher logical
    ])
    [w] = dedupe_batch(df).collect()
    assert w["val"] == "logical-wins"


def test_dedupe_batch_one_row_per_key(spark):
    df = mk(spark, [
        ("t", "c", 100, 0, 1, "a", "v1"),
        ("t", "u", 200, 0, 2, "a", "v2"),
        ("t", "u", 200, 0, 3, "a", "v2"),  # identity-duplicate of seq=2 (redelivery)
        ("t", "c", 100, 0, 4, "b", "w1"),
    ])
    got = {r["pk"]: r for r in dedupe_batch(df).collect()}
    assert set(got) == {"a", "b"}
    # redeliveries carry identical payloads; either copy may survive
    assert got["a"]["val"] == "v2" and got["a"]["commit_wall_ns"] == 200


def test_redelivered_winner_same_seq_collapses(spark):
    """Kafka-style redelivery: two copies of the SAME record share even the
    seq (per-partition offsets). dedupe_batch must still emit one row per
    key (the CoW merge's one-match-row precondition)."""
    rows = [
        ("t", "u", 100, 0, 7, "k1", "v1"),
        ("t", "u", 100, 0, 7, "k1", "v1"),  # exact redelivery, same seq
        ("t", "u", 90, 0, 3, "k1", "v0"),
    ]
    df = spark.createDataFrame(
        rows,
        "table_name string, op string, commit_wall_ns long, commit_logical long, "
        "seq long, pk string, payload string",
    )
    out = dedupe_batch(df, "pk").collect()
    assert len(out) == 1
    assert out[0]["payload"] == "v1"
