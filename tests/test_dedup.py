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


def test_null_ordering_field_keeps_its_key(spark):
    """A NULL ordering field sorts below every value (the order of
    ``max(struct)``): a key whose only row carries one still keeps that
    row, and a non-null tuple beats a null one on the same key."""
    df = mk(spark, [
        ("t", "c", 100, None, 1, "a", "only"),
        ("t", "c", 100, 0, 2, "b", "v"),
        ("t", "c", 100, None, 5, "c", "null-logical"),
        ("t", "u", 100, 0, 3, "c", "non-null-wins"),
    ])
    got = {r["pk"]: r["val"] for r in dedupe_batch(df).collect()}
    assert got == {"a": "only", "b": "v", "c": "non-null-wins"}


def test_identical_stored_tuples_resolve_to_one_row(spark):
    """Two stored-ordering rows of one key with the same full tuple
    resolve to ONE row through the arg-max the MoR read and compaction
    use; the greater tuple of another key still wins on its own."""
    from debezium_connector_cockroachdb_spark.operators.dedup import argmax_rows
    from debezium_connector_cockroachdb_spark.sources.lake import _COMMIT_ORDER

    df = spark.createDataFrame(
        [("k1", "x", 100, 0, 7), ("k1", "x", 100, 0, 7), ("k2", "old", 90, 0, 1), ("k2", "new", 90, 0, 2)],
        "doc_id string, v string, _commit_wall_ns long, _commit_logical long, _commit_seq long",
    )
    out = argmax_rows(df, "doc_id", _COMMIT_ORDER).collect()
    assert sorted((r["doc_id"], r["v"]) for r in out) == [("k1", "x"), ("k2", "new")]
    assert out[0].asDict().keys() == {"doc_id", "v", *_COMMIT_ORDER}


def test_hot_key_flood_ships_one_row_per_key_per_partition(spark):
    """A single key flooded with 24k events over 4 input partitions (plus
    cold keys): the map-side partial top-1 ships at most one row per key
    per input partition into the shuffle, and every key keeps its max
    (wall, logical, seq) row."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def stages():
        it = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None).iterator()
        out = {}
        while it.hasNext():
            s = it.next()
            out[int(s.stageId())] = s
        return out

    n, cold = 24_000, 5
    i = F.col("id")
    df = spark.range(0, n, numPartitions=4).select(
        F.lit("t").alias("table_name"), F.lit("u").alias("op"),
        ((i * 7919) % 5000).alias("commit_wall_ns"), (i % 3).alias("commit_logical"),
        i.alias("seq"),
        F.when(i % 1000 < cold, F.concat(F.lit("cold"), (i % 1000).cast("string")))
        .otherwise(F.lit("hot")).alias("pk"),
        i.cast("string").alias("val"),
    )
    want = {}
    for r in df.collect():
        t = (r["commit_wall_ns"], r["commit_logical"], r["seq"])
        if r["pk"] not in want or t > want[r["pk"]][0]:
            want[r["pk"]] = (t, r["val"])
    assert len(want) == cold + 1

    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(stages())
    got = dedupe_batch(df).collect()
    bus.waitUntilEmpty()
    shuffled = [int(s.shuffleWriteRecords()) for k, s in stages().items() if k not in before]
    assert 0 < sum(shuffled) <= df.rdd.getNumPartitions() * len(want), shuffled
    assert {
        r["pk"]: ((r["commit_wall_ns"], r["commit_logical"], r["seq"]), r["val"]) for r in got
    } == want
