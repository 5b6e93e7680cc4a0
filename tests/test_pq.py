"""Product-quantization ANN (operators/pq.py): hand-checkable encode /
ADC arithmetic on a tiny constructed codebook, plus train→encode→score
determinism on the real embeddings table."""

import math
import os

from pyspark.sql import functions as F

from debezium_connector_cockroachdb_spark.operators import pq
from debezium_connector_cockroachdb_spark.operators.similarity import cosine_topk

SF = "/root/testdata/sf0.001"

# m=2 subspaces of 2 dims, 2 codes each: codewords chosen so arg-mins are
# unambiguous and every dot product is exact in float
CB = [
    (0, 0, [1.0, 0.0]),
    (0, 1, [0.0, 1.0]),
    (1, 0, [2.0, 0.0]),
    (1, 1, [0.0, 2.0]),
]


def _vecs(spark):
    rows = [
        (1, [1.0, 0.0, 2.0, 0.0]),  # codes (0, 0)
        (2, [0.0, 1.0, 0.0, 2.0]),  # codes (1, 1)
        (3, [0.9, 0.1, 0.1, 1.9]),  # codes (0, 1)
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_encode_codes_and_reconstructed_norm(spark):
    enc = {r["vec_id"]: r for r in pq.pq_encode(_vecs(spark), CB).collect()}
    assert list(enc[1]["codes"]) == [0, 0]
    assert list(enc[2]["codes"]) == [1, 1]
    assert list(enc[3]["codes"]) == [0, 1]
    # approx_n2 = sum of squared codeword norms of the assigned codes
    assert enc[1]["approx_n2"] == 1.0 + 4.0
    assert enc[3]["approx_n2"] == 1.0 + 4.0


def test_adc_is_exact_on_reconstructable_vectors(spark):
    """Vectors that ARE codeword concatenations reconstruct losslessly, so
    the ADC cosine must equal the exact cosine — and the PQ top-k must
    equal the brute-force top-k."""
    v = _vecs(spark).filter(F.col("vec_id") <= 2)
    q = v.select(F.col("vec_id").alias("query_id"), "embedding")
    got = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in pq.cosine_topk_pq(v, q, k=1, codebook=CB).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk(v, q, k=1).collect()
    }
    assert got == exact
    # and the value is hand-checkable: v1·v2 = 0 → cos 0
    assert got[(1, 2)] == 0.0


def test_adc_score_matches_manual_arithmetic(spark):
    v = _vecs(spark)
    q = v.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        r["neighbor_id"]: r["cos_sim"]
        for r in pq.cosine_topk_pq(v, q, k=2, codebook=CB).collect()
    }
    # neighbor 3 reconstructs to [1,0,0,2]; q = [1,0,2,0]
    # adot = 1*1 + 2*0 = 1; |q| = sqrt(5); |rec| = sqrt(5)
    want = round(1.0 / (math.sqrt(5.0) * math.sqrt(5.0)), 6)
    assert got[3] == want


def test_train_encode_deterministic_and_layout_independent(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb1 = pq.pq_train(emb, m=4, ksub=8, n_iters=1)
    cb2 = pq.pq_train(emb.repartition(13), m=4, ksub=8, n_iters=1)
    assert cb1 == cb2  # stride seeding + mean re-centering: layout-free

    enc = pq.pq_encode(emb, cb1)
    row = enc.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m"),
    ).first()
    assert row["n"] == emb.count()
    assert 0 <= row["lo"] and row["hi"] < 8 and row["m"] == 4

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = pq.cosine_topk_pq(emb, q, k=5, codebook=cb1).collect()
    b = pq.cosine_topk_pq(emb.repartition(7), q, k=5, codebook=cb1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    ranks = {(r["query_id"], r["rank"]) for r in a}
    assert len(ranks) == len(a) == 3 * 5


def test_pq_topk_recovers_strong_neighbors(spark):
    """The recall property that matters for dedup/retrieval: a query that
    IS a corpus vector (under a fresh id) must rank that vector first —
    its ADC score is the near-lossless cos(v, v̂) ≈ 1 while the rest of a
    random corpus sits near 0, far outside the quantization error. (Top-5
    among NEAR-ORTHOGONAL random vectors is noise-ranking by design — no
    quantizer preserves it, so that is deliberately not asserted.)"""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("query_id"), "embedding"
    )
    cb = pq.pq_train(emb, m=8, ksub=16, n_iters=2)
    top1 = {
        r["query_id"] - 10000: r["neighbor_id"]
        for r in pq.cosine_topk_pq(emb, q, k=1, codebook=cb).collect()
    }
    hits = sum(1 for src, nb in top1.items() if src == nb)
    assert hits >= 4, top1


def test_arrow_encode_null_and_ragged_rows_degrade_to_null(spark):
    rows = [
        (1, [1.0, 0.0, 2.0, 0.0]),
        (2, None),
        (3, [1.0, 0.0]),  # wrong width
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {r["vec_id"]: r for r in pq.pq_encode(df, CB).collect()}
    assert list(got[1]["codes"]) == [0, 0] and got[1]["approx_n2"] == 5.0
    assert got[2]["codes"] is None and got[2]["approx_n2"] is None
    assert got[3]["codes"] is None and got[3]["approx_n2"] is None


def test_pq_rerank_with_full_pool_equals_exact(spark):
    """With the candidate pool covering the whole corpus, ADC nomination
    cannot exclude anything — the re-ranked result must equal brute-force
    cosine_topk exactly (values AND order)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq.pq_train(emb, m=4, ksub=8, n_iters=1)
    n = emb.count()
    got = pq.cosine_topk_pq_rerank(
        emb, q, k=3, c_factor=(n // 3) + 1, codebook=cb
    ).collect()
    want = cosine_topk(emb, q, k=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_pq_rerank_scores_are_exact_cosines(spark):
    """Whatever the pool nominates, the RETURNED scores must be the exact
    cosines (not ADC approximations)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb = pq.pq_train(emb, m=4, ksub=8, n_iters=1)
    got = pq.cosine_topk_pq_rerank(emb, q, k=3, c_factor=4, codebook=cb).collect()
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in cosine_topk(emb, q, k=emb.count()).collect()
    }
    assert got
    for r in got:
        assert r["cos_sim"] == exact_all[(r["query_id"], r["neighbor_id"])], r


def test_staged_codebook_retrains_when_embeddings_regenerated(spark, tmp_path):
    """The staged codebook is keyed on the input files, not the row count:
    rewriting embeddings.parquet in place with the same number of rows but
    different vectors must retrain, and give what a fresh training gives."""
    import pyarrow as pa
    import pyarrow.parquet as pq_pa

    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = os.path.join(sf, "embeddings.parquet")
    t = pq_pa.read_table(f"{SF}/embeddings.parquet")
    pq_pa.write_table(t, path)
    n1, cb1 = dq._staged_pq_codebook(spark, sf, dq.PQ_M, dq.PQ_KSUB)

    flipped = pa.array([[-x for x in v] for v in t.column("embedding").to_pylist()],
                       t.schema.field("embedding").type)
    pq_pa.write_table(t.set_column(1, "embedding", flipped), path)
    n2, cb2 = dq._staged_pq_codebook(spark, sf, dq.PQ_M, dq.PQ_KSUB)

    assert n1 == n2 == t.num_rows
    assert cb2 != cb1
    emb = spark.read.parquet(path)
    assert cb2 == pq.pq_train(emb, m=dq.PQ_M, ksub=dq.PQ_KSUB, n_vectors=n2)
