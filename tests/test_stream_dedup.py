"""Cross-batch streaming dedup: the first copy of a content fingerprint is
emitted once; later copies — in the SAME batch or any LATER batch — are
suppressed by an anti join against the output of earlier batches."""

import os
import time

from debezium_connector_cockroachdb_spark.streaming.stream_dedup import (
    streaming_exact_dedup,
)


def _write_batch(spark, path, rows, n):
    spark.createDataFrame(rows, "doc_id string, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, f"b{n}"))


def _drain(spark, src, tmp_path):
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    out_dir = str(tmp_path / "out")
    streaming_exact_dedup(stream, out_dir, str(tmp_path / "ckpt")).awaitTermination()
    return spark.read.parquet(out_dir).collect()


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

    rows = {r["fp"]: r for r in _drain(spark, src, tmp_path)}

    got = {(r["doc_id"], r["n_dropped_before_emit"]) for r in rows.values()}
    # d1 wins its group (min id within the first batch, 1 sibling dropped);
    # d3 unique; d5 wins over d6; d4 (cross-batch copy) never appears
    assert got == {("d1", 1), ("d3", 0), ("d5", 1)}


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    """The seen-fingerprint set is the sink: a NEW query instance on the
    same checkpoint and sink still suppresses previously-seen content."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, src, [("a1", "alpha doc")], 0)

    assert {r["doc_id"] for r in _drain(spark, src, tmp_path)} == {"a1"}

    time.sleep(0.1)
    _write_batch(spark, src, [("a2", "ALPHA   DOC"), ("a3", "fresh one")], 1)
    # a2 duplicates pre-restart content -> suppressed by the earlier batch's output
    assert {r["doc_id"] for r in _drain(spark, src, tmp_path)} == {"a1", "a3"}


def test_streaming_dedup_min_id_across_arrow_chunks(spark, tmp_path):
    """The emitted winner is the min-id copy of the WHOLE first batch,
    whatever the order its copies arrive in."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # 9 copies, descending ids, global min ("a00") last in data order
    rows = [(f"z{i:02d}", "same   content") for i in range(9, 1, -1)]
    rows.append(("a00", "same content"))
    _write_batch(spark, src, rows, 0)

    got = _drain(spark, src, tmp_path)
    assert len(got) == 1
    assert got[0]["doc_id"] == "a00"
    assert got[0]["n_dropped_before_emit"] == 8


def test_null_doc_id_never_beats_non_null_copy(spark, tmp_path):
    """A copy without an id is counted as dropped but never emitted over a
    copy that has one (the oracle's min(doc_id) ignores nulls)."""
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, src, [(None, "Same Doc"), ("b", "same doc"), ("a", "same  doc")], 0)

    got = _drain(spark, src, tmp_path)
    assert [(r["doc_id"], r["text"], r["n_dropped_before_emit"]) for r in got] == [
        ("a", "same  doc", 2)
    ]


def test_streaming_dedup_replayed_batches_stay_exact(spark, tmp_path):
    """Kill after batch 1 and resume: the restarted query replays batch 1
    against a sink that already holds its output, then runs batch 2 again;
    the sink must still equal the first-batch-wins oracle (which has no
    row for documents without text) with one row per fingerprint."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    texts = ["alpha beta", "Alpha  Beta ", "gamma", "delta", None, "gamma", "eps"] * 3
    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
                   os.path.join(sf, "documents.parquet"))
    # q_stream_dedup's 3 source batches: even ids, odd ids, a noisy copy of all
    src = dq._staged_stream_dedup_src(spark, sf)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    cols = ["fp", "doc_id", "n_dropped_before_emit"]

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        streaming_exact_dedup(stream, out_dir, ckpt).awaitTermination()
        return sorted(tuple(r) for r in spark.read.parquet(out_dir).select(*cols).collect())

    first = drain()
    # a crash after batch 1 wrote its output: batch 1 is planned but not
    # committed, batch 2 never planned (its stale output stays in the sink)
    for log, b in (("commits", 1), ("commits", 2), ("offsets", 2)):
        for fn in (str(b), f".{b}.crc"):  # the log entry and its checksum
            os.remove(os.path.join(ckpt, log, fn))
    replayed = drain()

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
    want = sorted(con.sql(f"SELECT {', '.join(cols)} FROM ({dq.SQL_STREAM_DEDUP})").fetchall())
    assert first == want
    assert replayed == want
    assert len({r[0] for r in replayed}) == len(replayed)


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
