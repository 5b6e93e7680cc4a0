"""Workload ``ops_dedup``: two entries of ``plans/driver_queries.queries()``
(embedding near-duplicates through the Arrow similarity kernels, and
streaming exact dedup through per-group Python state) over a corpus made
from the seed, each forced by collecting its whole result.

Set-up makes the corpus and warms the JVM and the Python workers with one
pass of both queries over a small corpus. The timed region runs the queries
once each with driver_queries' stage caches empty. Outside it, each result
must equal the query's value-exact DuckDB oracle
(``driver_queries.oracle_sql()``) over the same corpus files. The traced run
then repeats the queries, warm, on the small corpus, to report the share of
the suite's time that does not grow with the corpus.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import cpu_seconds

# query -> the corpus table it reads
QUERY_TABLE = {
    "embedding_neardup": "embeddings",
    "stream_dedup": "documents",
}
QUERIES = list(QUERY_TABLE)

N_DOCS = 8_000
N_VECS = 2_000
WARMUP_DOCS = 200
WARMUP_VECS = 200
DIM = 64

WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def make_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """documents (doc_id, text, lang, source, n_chars) and embeddings
    (vec_id, embedding float[DIM], label), the schema of the repository's
    test corpora, with injected near-duplicates so every operator has
    matches to find."""
    rng = np.random.RandomState(seed % (1 << 32))
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.rand()
        if i > 10 and r < 0.15:  # near-duplicate: copy + a few word edits
            words = texts[rng.randint(i)].split()
            for _ in range(rng.randint(1, 4)):
                words[rng.randint(len(words))] = WORDS[rng.randint(len(WORDS))]
            texts.append(" ".join(words))
        elif i > 10 and r < 0.20:  # exact duplicate
            texts.append(texts[rng.randint(i)])
        else:
            texts.append(" ".join(WORDS[k] for k in rng.randint(len(WORDS), size=rng.randint(8, 90))))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.randint(len(LANGS), size=n_docs)],
        "source": [f"src{k}" for k in rng.randint(20, size=n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.randn(20, DIM).astype(np.float32)
    label = rng.randint(20, size=n_vecs)
    vecs = centers[label] + 0.8 * rng.randn(n_vecs, DIM).astype(np.float32)
    dup = rng.rand(n_vecs) < 0.1
    src = rng.randint(n_vecs, size=n_vecs)
    vecs[dup] = vecs[src[dup]] + 0.01 * rng.randn(int(dup.sum()), DIM).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array((label % 10).astype(np.int32)),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}


def reset_stage_caches() -> None:
    """Empty driver_queries' in-process stage caches and their directories,
    so each pass pays its staging once."""
    import shutil

    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    for name in dir(dq):
        v = getattr(dq, name)
        if name.endswith("_STAGE") and isinstance(v, dict):
            for path in list(v.values()):
                if isinstance(path, str):
                    shutil.rmtree(path, ignore_errors=True)
            v.clear()


def oracle_mismatches(corpus: str, results: dict[str, pa.Table]) -> dict[str, int]:
    """Per query, the rows in the symmetric difference between its result
    and its DuckDB oracle over the same corpus files."""
    import duckdb

    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    sql = dq.oracle_sql()
    con = duckdb.connect()
    for t in set(QUERY_TABLE.values()):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(corpus, t + '.parquet')}')")
    out = {}
    for q, got in results.items():
        cols = ", ".join(f'"{c}"' for c in got.column_names)
        con.register("got", got)
        con.sql(f"CREATE OR REPLACE TABLE want AS SELECT {cols} FROM ({sql[q]})")
        out[q] = int(con.sql(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT * FROM want)) + "
            f"(SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT {cols} FROM got))"
        ).fetchone()[0])
        con.unregister("got")
    con.close()
    return out


def setup(spark, run_dir, seed: int, seconds: int) -> dict:
    """Make the corpus, then warm up with one pass over a small one (its
    result is checked too). ``setup_s`` covers both."""
    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    t0 = time.time()
    corpus = run_dir.sub("corpus")
    sizes = make_corpus(corpus, seed, N_DOCS, N_VECS)
    warm = run_dir.sub("warmup")
    make_corpus(warm, seed + 1, WARMUP_DOCS, WARMUP_VECS)
    qs = dq.queries()
    reset_stage_caches()
    warm_results = {q: qs[q](spark, warm).toArrow() for q in QUERIES}
    reset_stage_caches()
    setup_s = time.time() - t0
    return {"corpus": corpus, "warm_corpus": warm, "sizes": sizes, "setup_s": setup_s,
            "warmup_mismatches": oracle_mismatches(warm, warm_results)}


def run(spark, run_dir, inp: dict, tracer=None) -> dict:
    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    qs = dq.queries()
    corpus = inp["corpus"]
    c0 = cpu_seconds(spark)
    times: dict[str, float] = {}
    results: dict[str, pa.Table] = {}
    for name in QUERIES:
        with tracer.span(f"ops.{name}") if tracer else nullcontext():
            t0 = time.time()
            results[name] = qs[name](spark, corpus).toArrow()
            times[name] = time.time() - t0
    ops_cpu = cpu_seconds(spark) - c0
    reset_stage_caches()

    # ---- result check, outside the timed region
    mismatches = oracle_mismatches(corpus, results)
    failed = [q for q in QUERIES if mismatches[q] or inp["warmup_mismatches"][q]]
    detail = {"times": times}
    if tracer:
        # the same queries, warm, on the small warm-up corpus: the share of
        # the suite's time that does not grow with the corpus
        t0 = time.time()
        for name in QUERIES:
            qs[name](spark, inp["warm_corpus"]).toArrow()
        detail["small_share_pct"] = 100.0 * (time.time() - t0) / sum(times.values())
        reset_stage_caches()
    rows_in = sum(inp["sizes"][QUERY_TABLE[q]] for q in QUERIES)
    return {
        "correct": not failed,
        "attempted": len(QUERIES),
        "failed": len(failed),
        "metrics": {"cpu_us_per_rec": ops_cpu * 1e6 / rows_in},
        "notes": {"ops_s": sum(times.values()), "ops_cpu_s": ops_cpu,
                  "samples": {"setup_s": 1, "cpu_us_per_rec": 1},
                  "query_s": times, "rows_out": {q: results[q].num_rows for q in QUERIES},
                  "mismatched_rows": mismatches, "warmup_mismatched_rows": inp["warmup_mismatches"],
                  "failed_queries": failed},
        "detail": detail,
    }
