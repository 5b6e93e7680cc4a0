"""Physical-plan assertions: the plans we designed for are the plans
Catalyst actually produces (SURVEY §4 — pushdown, map-side partial
reduction before every shuffle)."""

import re

from pyspark.sql import functions as F

from debezium_connector_cockroachdb_spark.operators.dedup import dedupe_batch
from debezium_connector_cockroachdb_spark.sources.envelope import RAW_LOG_SCHEMA, parse_changefeed
from debezium_connector_cockroachdb_spark.sources.generator import (
    TOKENIZED_SEQUENCES_SPECS,
    GeneratorConfig,
    write_log,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_push_into_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("user_id") == 3)
        .select("event_id", "value")
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "EqualTo(user_id,3)" in plan
    # column pruning: the scan must not read all six columns
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema and "event_type" not in read_schema


def test_last_writer_wins_is_partial_window_group_limit(spark, tmp_path):
    """The per-key ordering operator must plan as a top-1 window with a
    map-side partial limit (hot-key safe: each input partition ships at
    most one row per key) below ONE exchange on the key — no winner
    aggregate, no join-back, and the input scanned and parsed once."""
    cfg = GeneratorConfig(num_keys=20, num_events=100, n_files=2)
    write_log(spark, cfg, str(tmp_path / "log"))
    raw = spark.read.schema(RAW_LOG_SCHEMA).parquet(str(tmp_path / "log"))
    parsed = parse_changefeed(raw, TOKENIZED_SEQUENCES_SPECS, "doc_id")
    plan = plan_of(dedupe_batch(parsed.filter(~F.col("is_control")), "pk"))
    assert "Join" not in plan and "Aggregate" not in plan, plan
    assert len(re.findall(r"^\(\d+\) Scan ", plan, re.M)) == 1, plan
    exchanges = [int(n) for n in re.findall(r"^\((\d+)\) Exchange$", plan, re.M)]
    assert len(exchanges) == 1 and "hashpartitioning(pk" in plan, plan
    # formatted explain numbers operators children-first: the Partial limit
    # sits below the exchange, the Final one above it
    limits = dict(
        (mode, int(n))
        for n, mode in re.findall(
            r"^\((\d+)\) WindowGroupLimit\n(?:.*\n)*?Arguments: .*row_number\(\), 1, (Partial|Final)$",
            plan, re.M,
        )
    )
    assert limits["Partial"] < exchanges[0] < limits["Final"], plan


def test_exact_topk_is_two_stage_bounded(spark):
    """cosine_topk must pre-reduce per input partition (groupBy(query,
    partition_id) -> slice k) before the final per-query reduce: two
    aggregate pairs around two exchanges, no aggregation buffer ever
    holding the whole corpus for one query (the 10^9-row failure mode)."""
    from debezium_connector_cockroachdb_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = plan_of(cosine_topk(emb, q, k=2))
    assert "Window" not in plan
    # stage 1 groups on (query_id, SPARK_PARTITION_ID), stage 2 on query_id
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan
    agg_nodes = plan.count("ObjectHashAggregate") + plan.count("SortAggregate") + plan.count("HashAggregate")
    assert agg_nodes >= 4, plan


def test_exact_topk_two_stage_equals_global_sort(spark):
    """Property: the two-stage bounded top-k equals the naive global-sort
    top-k (top-k is distributive over partition unions)."""
    from pyspark.sql import Window

    from debezium_connector_cockroachdb_spark.operators.similarity import cosine, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").repartition(7)
    q = emb.filter(F.col("vec_id") < 4).select(F.col("vec_id").alias("query_id"), "embedding")
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in cosine_topk(emb, q, k=3).collect()
    }
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv"))
        .crossJoin(q.select("query_id", F.col("embedding").alias("_qv")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
        for r in scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3).collect()
    }
    assert got == want


def test_mor_read_resolution_never_aggregates_payload(spark, tmp_path):
    """The MoR read-time arg-max must aggregate only the 3-long ordering
    tuple — a payload-wide max(struct) forces sort-based aggregation over
    nested token arrays (the measured 64s-vs-4s trap). It is the same
    partial top-1 window as the micro-batch, with no join-back."""
    from pyspark.sql import types as T

    from debezium_connector_cockroachdb_spark.sources.lake import SnapshotTable

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
    ])
    t = SnapshotTable.create(
        str(tmp_path / "t"), schema, "doc_id", num_buckets=2,
        properties={"write.merge.mode": "mor"},
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, op string, "
              "commit_wall_ns long, commit_logical long, seq long"
    )
    t.merge(spark, mk([(f"k{i}", [i], "c", 100, 0, i) for i in range(20)]), "b1")
    t.merge(spark, mk([(f"k{i}", [i * 10], "u", 200, 0, 100 + i) for i in range(10)]), "b2")
    plan = plan_of(t.read_raw(spark))
    # every aggregate node's function list must not touch the payload
    for line in plan.splitlines():
        if "Functions" in line:
            assert "tokens" not in line, f"payload-wide aggregate: {line}"
    assert "Join" not in plan
    assert re.search(r"row_number\(\), 1, Partial$", plan, re.M), plan


def test_slices_add_no_shuffle_and_assembly_adds_one(spark):
    """pack_sequences_slices must add ZERO exchanges over pack_sequences'
    prefix-sum plan (the span explode is map-side arithmetic), and
    assemble_packs exactly ONE more (the pack_id fold), with no
    single-partition stage anywhere."""
    from debezium_connector_cockroachdb_spark.operators.packing import (
        assemble_packs,
        pack_sequences,
        pack_sequences_slices,
    )

    df = spark.createDataFrame(
        [(i, (i * 53) % 150 + 1) for i in range(200)], "doc_id long, n_tok long"
    )
    p_flat = plan_of(pack_sequences(df, 64, num_buckets=8))
    p_slices = plan_of(pack_sequences_slices(df, 64, num_buckets=8))
    p_asm = plan_of(assemble_packs(pack_sequences_slices(df, 64, num_buckets=8)))

    def shuffles(p: str) -> int:
        # tree nodes like "Exchange (17)"; excludes BroadcastExchange and
        # the duplicate "(17) Exchange" detail headers
        return len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", p))

    for p in (p_flat, p_slices, p_asm):
        assert "SinglePartition" not in p
    assert shuffles(p_slices) == shuffles(p_flat)
    assert shuffles(p_asm) == shuffles(p_slices) + 1
    # the fold is a partial-aggregated collect (map-side pre-grouping),
    # not an ADDITIONAL window sort — the only Window is the prefix sum's
    # own bucket-local one, inherited unchanged from the slices plan
    assert p_asm.count("Window") == p_slices.count("Window")
