#!/usr/bin/env python
"""Realistic-dimension ANN evidence: run the LSH, IVF and PQ top-k paths
at dim 1536 over 10^5 synthetic vectors and assert the PLAN stays
narrow — no O(dim) expression fan-out (the zip_with/aggregate dot product
and the posexplode re-centering are both dim-independent in plan size; the
historical traps were per-dimension avg() columns and per-dimension
distance literals).

Vectors are deterministic hash arithmetic (no RNG, no external data):
  v[j] = pmod(xxhash64(vec_id, j), 2001)/1000 - 1   in [-1, 1]

Output: ONE JSON line {"dim":..., "n":..., "lsh_secs":..., "ivf_secs":...,
"pq_secs":..., "plan_chars_lsh":..., "plan_chars_ivf":..., "plan_chars_pq":...}.

Usage: [ANN_N=100000] [ANN_DIM=1536] python tools/ann_highdim.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def synth_vectors(spark, n: int, dim: int, out: str):
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda j: (F.pmod(F.xxhash64(F.col("id"), j), F.lit(2001)) / 1000.0 - 1.0),
                ).alias("embedding"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
    return spark.read.parquet(out)


def main() -> None:
    n = int(os.environ.get("ANN_N", "100000"))
    dim = int(os.environ.get("ANN_DIM", "1536"))
    spark = bench.build_spark(bench.CPUS)
    from debezium_connector_cockroachdb_spark.operators import similarity

    vecs = synth_vectors(
        spark, n, dim, os.path.join(bench.REPO, "_work", f"ann_vecs_n{n}_d{dim}")
    )
    queries = vecs.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    out = {"dim": dim, "n": n, "cpus": bench.CPUS}

    lsh = similarity.cosine_topk_lsh(vecs, queries, k=10, n_planes=None, n_vectors=n)
    out["plan_chars_lsh"] = len(lsh._jdf.queryExecution().optimizedPlan().toString())
    t0 = time.time()
    out["lsh_rows"] = lsh.count()
    out["lsh_secs"] = round(time.time() - t0, 2)

    t0 = time.time()
    ivf = similarity.cosine_topk_ivf(vecs, queries, k=10, n_centroids=64, n_probe=4, n_vectors=n)
    out["plan_chars_ivf"] = len(ivf._jdf.queryExecution().optimizedPlan().toString())
    out["ivf_rows"] = ivf.count()
    out["ivf_secs"] = round(time.time() - t0, 2)  # includes k-means seeding/assign

    # PQ/ADC: seeded codebook (n_iters=0 — the quantizer-quality knob is
    # irrelevant to a plan/throughput check), Arrow encode + LUT sweep;
    # scoring is dim-independent (m LUT lookups per pair) and JVM-side.
    from debezium_connector_cockroachdb_spark.operators import pq as pqmod

    t0 = time.time()
    cb = pqmod.pq_train(vecs, m=8, ksub=64, n_iters=0, n_vectors=n)
    pq_df = pqmod.cosine_topk_pq(vecs, queries, k=10, codebook=cb)
    out["plan_chars_pq"] = len(pq_df._jdf.queryExecution().optimizedPlan().toString())
    out["pq_rows"] = pq_df.count()
    out["pq_secs"] = round(time.time() - t0, 2)  # includes encode
    assert out["plan_chars_pq"] < 60_000, out["plan_chars_pq"]

    # the narrowness assertion: an O(dim) fan-out at dim 1536 would put
    # >100k chars of per-dimension expressions in the plan
    assert out["plan_chars_lsh"] < 60_000, out["plan_chars_lsh"]
    assert out["plan_chars_ivf"] < 60_000, out["plan_chars_ivf"]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
