"""Cross-batch streaming dedup (applyInPandasWithState): the first copy of
a content fingerprint is emitted once; later copies — in the SAME batch or
any LATER batch — are suppressed by checkpointed per-key state."""

import os
import time

from pyspark.sql import functions as F

from debezium_connector_cockroachdb_spark.streaming.stream_dedup import (
    streaming_exact_dedup,
)


def _write_batch(spark, path, rows, n):
    spark.createDataFrame(rows, "doc_id string, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, f"b{n}"))


def test_streaming_dedup_suppresses_cross_batch_copies(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # batch 0: d2/d1 identical content (formatting noise differs), d3 unique
    _write_batch(spark, src, [
        ("d2", "Hello   World"),
        ("d1", "hello world"),
        ("d3", "something else"),
    ], 0)
    # batch 1: d4 repeats batch-0 content; d5 is novel; d6 repeats d5
    _write_batch(spark, src, [
        ("d4", "HELLO WORLD"),
        ("d5", "brand new doc"),
        ("d6", "brand  new   doc"),
    ], 1)

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["fp"]: r for r in spark.sql("SELECT * FROM dedup_out").collect()}

    got = {(r["doc_id"], r["n_dropped_before_emit"]) for r in rows.values()}
    # d1 wins its group (min id within the first batch, 1 sibling dropped);
    # d3 unique; d5 wins over d6; d4 (cross-batch copy) never appears
    assert got == {("d1", 1), ("d3", 0), ("d5", 1)}


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    """The seen-fingerprint state is checkpointed: a NEW query instance on
    the same checkpoint still suppresses previously-seen content."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, src, [("a1", "alpha doc")], 0)

    out_dir = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("parquet")  # memory sink can't recover checkpoints
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}

    assert drain() == {"a1"}

    time.sleep(0.1)
    _write_batch(spark, src, [("a2", "ALPHA   DOC"), ("a3", "fresh one")], 1)
    # a2 duplicates pre-restart content -> suppressed by restored state
    assert drain() == {"a1", "a3"}


def test_streaming_dedup_min_id_across_arrow_chunks(spark, tmp_path):
    """A large group reaches the kernel as several Arrow chunks; the
    emitted winner must be the min-id copy of the WHOLE first batch, not
    of whichever chunk happens to arrive first."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # 9 copies, descending ids, global min ("a00") last in data order —
    # with 2-row Arrow chunks it cannot be in the first chunk
    rows = [(f"z{i:02d}", "same   content") for i in range(9, 1, -1)]
    rows.append(("a00", "same content"))
    _write_batch(spark, src, rows, 0)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        out_dir = str(tmp_path / "out")
        q = (
            streaming_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 1
    assert got[0]["doc_id"] == "a00"
    assert got[0]["n_dropped_before_emit"] == 8


def test_streaming_dedup_jvm_engine_state_equivalent(spark, tmp_path):
    """engine="jvm" (native dropDuplicates, zero Python in the loop) must
    be state-equivalent to the pandas engine: same emitted-fingerprint set,
    same cross-batch suppression, state survives a query restart on the
    same checkpoint. (Winner among intra-batch duplicates is first-received
    rather than min-id — not asserted; drop counts are null.)"""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, src, [("a1", "alpha doc"), ("b1", "beta doc")], 0)

    out_dir = str(tmp_path / "out")

    def drain():
        stream = (
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = (
            streaming_exact_dedup(stream, engine="jvm")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    first = drain()
    assert {r["doc_id"] for r in first} == {"a1", "b1"}
    assert all(r["n_dropped_before_emit"] is None for r in first)

    time.sleep(0.1)
    # a2 duplicates pre-restart content -> suppressed by restored JVM state;
    # c1 is novel -> emitted (identical scenario to the pandas restart test)
    _write_batch(spark, src, [("a2", "ALPHA   DOC"), ("c1", "fresh one")], 1)
    assert {r["doc_id"] for r in drain()} == {"a1", "b1", "c1"}


def test_streaming_dedup_rejects_unknown_engine(spark):
    import pytest as _pytest

    df = spark.readStream.format("rate").load().selectExpr(
        "cast(value as string) as doc_id", "'x' as text"
    )
    with _pytest.raises(ValueError, match="unknown engine"):
        streaming_exact_dedup(df, engine="nope")


def test_q_stream_dedup_back_to_back_results_stay_readable(spark, tmp_path):
    """Each q_stream_dedup call writes its stream output to its own
    directory: a second call must not remove the files an earlier call's
    (lazy) result still reads, and that result must equal the oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    sf = str(tmp_path)
    texts = ["alpha beta", "Alpha  Beta ", "gamma", "delta", "gamma"] * 8
    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
                   os.path.join(sf, "documents.parquet"))
    first = dq.q_stream_dedup(spark, sf)
    second = dq.q_stream_dedup(spark, sf)
    cols = ["fp", "doc_id", "n_dropped_before_emit"]
    got = sorted(tuple(r) for r in first.select(*cols).collect())

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
    want = sorted(con.sql(f"SELECT {', '.join(cols)} FROM ({dq.SQL_STREAM_DEDUP})").fetchall())
    assert got == want
    assert sorted(tuple(r) for r in second.select(*cols).collect()) == want
