#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Headline metric: CDC apply throughput — change-events/sec from raw
changefeed records to committed, consistent snapshot-table state (parse →
dedup → merge → commit, the full §3 path), measured over a deterministic
replay log. Secondary: per-operator seconds for the §2 / training-data
suite.

The N→4N scaling evidence (BASELINE.md protocol) lives in
bench_scaling.py, which re-invokes this file at two parallelism levels.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))

# CDC replay workload (deterministic; log cached across runs per config).
# Sized so 4N cores still have work per task: 32 input files feed 32 scan
# slots, 4 micro-batches of N_EVENTS/4 amortize per-batch fixed costs.
N_EVENTS = int(os.environ.get("BENCH_EVENTS", "8000000"))
N_KEYS = int(os.environ.get("BENCH_KEYS", "500000"))
HOT_PCT = int(os.environ.get("BENCH_HOT_PCT", "10"))
N_FILES = int(os.environ.get("BENCH_FILES", "32"))
MERGE_MODE = os.environ.get("BENCH_MODE", "mor")  # mor (write-optimized, default) | cow


# Local mode funnels every shuffle file, staged batch, and table write
# through ONE virtio disk — on a real cluster each of the 4N executors has
# its own disks, so charging the engine for VM disk contention would
# misrepresent scaling. BENCH_TMPFS=1 (default) puts ephemeral scratch on
# tmpfs; set BENCH_TMPFS=0 to measure the disk-bound configuration.
USE_TMPFS = os.environ.get("BENCH_TMPFS", "1") == "1" and os.path.isdir("/dev/shm")
SCRATCH = "/dev/shm/spark_graft_bench" if USE_TMPFS else os.path.join(REPO, "_work", "bench")


def build_spark(cpus: int):
    """local[cpus] by default; BENCH_MASTER=spark://... runs against a
    standalone cluster with 2-core executors (cpus/2 executor JVMs) — the
    multi-executor shape the north rule's scaling criterion names."""
    from debezium_connector_cockroachdb_spark.session import build_session

    # driver heap: build_session's default (session.driver_memory_mb, a
    # quarter of the host's memory clamped to 1-8 GiB; SPARK_DRIVER_MEMORY
    # overrides)
    extra = {}
    # BENCH_EXTRA_CONF: JSON dict of additional spark confs (codec A/Bs,
    # shuffle tuning experiments) applied identically at every level
    extra.update(json.loads(os.environ.get("BENCH_EXTRA_CONF", "{}")))
    if USE_TMPFS:
        os.makedirs(f"{SCRATCH}/local", exist_ok=True)
        extra["spark.local.dir"] = f"{SCRATCH}/local"
    master = os.environ.get("BENCH_MASTER")
    if master:
        extra.update({
            "spark.executor.cores": os.environ.get("BENCH_EXEC_CORES", "2"),
            "spark.cores.max": str(cpus),
            "spark.executor.memory": os.environ.get("BENCH_EXEC_MEM", "10g"),
        })
    else:
        master = f"local[{cpus}]"
    # shuffle partitions scale with cores (same RULE at every level so the
    # N→4N comparison stays apples-to-apples); BENCH_SHUFFLE_MULT widens
    # the task pool per core for straggler smoothing at low core counts
    mult = int(os.environ.get("BENCH_SHUFFLE_MULT", "1"))
    return build_session(
        app_name="bench",
        master=master,
        shuffle_partitions=cpus * mult,
        extra_conf=extra,
    )


def bench_cdc_apply(spark) -> tuple[float, dict]:
    from debezium_connector_cockroachdb_spark.sources.generator import (
        GeneratorConfig,
        seed_table,
        write_log,
    )
    from debezium_connector_cockroachdb_spark.streaming.pipeline import CDCPipeline, IngestConfig

    cfg = GeneratorConfig(
        num_keys=N_KEYS,
        num_events=N_EVENTS,
        resolved_every=max(N_EVENTS // 40, 1000),
        n_files=N_FILES,
        dup_pct=3,
        tombstone_pct=40,
        hot_key_pct=HOT_PCT,
        n_partitions=8,
    )
    cache_key = f"log_e{N_EVENTS}_k{N_KEYS}_h{HOT_PCT}"
    log_dir = os.path.join(REPO, "_work", "bench", cache_key)
    if not os.path.exists(os.path.join(log_dir, "_SUCCESS")):
        write_log(spark, cfg, log_dir)
    n_records = spark.read.parquet(log_dir).count()

    run_dir = os.path.join(SCRATCH, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    icfg = IngestConfig(
        log_dir=log_dir,
        table_path=os.path.join(run_dir, "table"),
        metrics_path=os.path.join(run_dir, "metrics"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        num_buckets=64,
        # throughput mode favors large batches — per-batch fixed costs
        # (commit, listing, planning, broadcast builds) amortize
        max_files_per_trigger=int(os.environ.get("BENCH_TRIGGER_FILES", max(N_FILES // 2, 1))),
        merge_mode=MERGE_MODE,
        # compaction-cadence A/B: ratio 0 reproduces the pure file-count
        # trigger (compaction storm mode), default 0.2 is the shipped policy
        mor_compact_min_delta_ratio=float(os.environ.get("BENCH_MOR_RATIO", "0.2")),
    )
    pipe = CDCPipeline(spark, icfg)
    t0 = time.time()
    pipe.run_snapshot(seed_table(spark, cfg))
    q = pipe.start_stream(available_now=True)
    q.awaitTermination()
    dt = time.time() - t0
    n_state = pipe.read_state().count()
    if os.environ.get("BENCH_DEBUG"):
        pipe.read_metrics().orderBy("batch_id").select(
            "batch_id", "phase", "n_raw", "n_updates", "touched_buckets",
            "compact_secs", "wall_ms"
        ).show(30, truncate=False)
    shutil.rmtree(run_dir, ignore_errors=True)
    return dt, {
        "n_log_records": n_records,
        "n_final_rows": n_state,
        "events_per_sec": round(n_records / dt, 1),
        "merge_mode": MERGE_MODE,
    }


# secondary per-operator benchmarks (keys must exist in queries())
OPERATOR_BENCH = [
    "cdc_last_writer_wins",
    "cdc_merge_apply",
    "alltypes_roundtrip",
    "text_analysis",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "simhash",
    "ann_cosine_topk",
    "ann_cosine_topk_lsh",
    "ann_cosine_topk_pq",
    "ann_cosine_topk_pq_rerank",
    "ngram_jaccard",
    "domain_cap_sample",
    "boilerplate_ngrams",
    "token_dedup_exact",
    "token_ngram_contamination",
    "sequence_packing",
    "pack_assembly",
    "embedding_neardup",
    "stream_dedup",
    "pii_redaction",
    "repetition_signals",
    "benchmark_contamination",
]


_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def synth_scale_dir(spark, factor: int) -> str:
    """Derived scale-up of the sf0.1 tables for the scale-trend run
    (BENCH_SF_SYNTH=10 ≈ sf1): union `factor` id-shifted copies of
    documents/embeddings/events — deterministic, no external data. Only
    used for timing trends, never for correctness oracles.

    Growth is ORGANIC, not duplicated: copy i's document text is
    letter-rotated (Caesar shift i·7 mod 26, upper+lower) AND
    digit-rotated (shift i·3 mod 10), so two copies carry identical text
    only when BOTH rotations coincide — period lcm(26,10) = 130; below
    factor 130 no two copies share letterful/digitful shingles, while word
    lengths, whitespace, punctuation and the WITHIN-copy duplicate rate
    are preserved exactly. A k-fold corpus then carries ~k× the base pair
    count instead of the ~k²/2 inflation plain duplication caused (every
    original spawned k-choose-2 cross-copy duplicate pairs, which forced
    a disclosure caveat on every dedup trend row). Punctuation-only
    shingles still repeat across copies at any factor — same-as-real-data
    behavior (ubiquitous shingles are exactly what df-blocking drops).
    Embeddings get a
    per-copy deterministic ±1 SIGN PATTERN multiplied element-wise:
    within one copy every pairwise dot product is exactly preserved
    (s_j² = 1 — a reflection isometry), while cross-copy cosines become
    sign-scrambled sums that decorrelate regardless of any periodic
    structure in the base vectors (a circular shift, the previous scheme,
    can stay correlated on structured data)."""
    from pyspark.sql import functions as F

    out = os.path.join(REPO, "_work", f"sf_synth_organic3_x{factor}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, id_col, id_kind in (
        ("documents", "doc_id", "long"),
        ("embeddings", "vec_id", "long"),
        ("events", "event_id", "long"),
        ("customer", "c_custkey", "long"),
        ("orders", "o_orderkey", "long"),
        ("supplier", "s_suppkey", "long"),
    ):
        src = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        n = src.count()
        parts = []
        for i in range(factor):
            p = src.withColumn(id_col, (F.col(id_col) + F.lit(i * n)).cast(id_kind))
            if name == "documents" and i > 0:
                rot = (i * 7) % 26
                dig = (i * 3) % 10
                shifted = _ALPHA[rot:] + _ALPHA[:rot]
                digits = "0123456789"
                shifted_dig = digits[dig:] + digits[:dig]
                p = p.withColumn(
                    "text",
                    F.translate(
                        "text",
                        _ALPHA + _ALPHA.upper() + digits,
                        shifted + shifted.upper() + shifted_dig,
                    ),
                )
            if name == "embeddings" and i > 0:
                sign = lambda j, _i=i: F.when(  # noqa: E731
                    F.pmod(F.xxhash64(F.lit(_i), j), F.lit(2)) == 0, F.lit(1.0)
                ).otherwise(F.lit(-1.0))
                p = p.withColumn(
                    "embedding",
                    F.transform("embedding", lambda x, j: (x * sign(j)).cast("float")),
                )
            parts.append(p)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


def main() -> None:
    spark = build_spark(CPUS)
    from debezium_connector_cockroachdb_spark.plans import driver_queries as dq

    qs = dq.queries()
    timings: dict[str, float] = {}

    cdc_stats = {}
    if not os.environ.get("BENCH_SKIP_CDC"):
        if os.environ.get("BENCH_WARMUP", "1") == "1":
            # JIT/codegen/page-cache warmup — identical un-warmed runs vary
            # >2x; the measured run reflects steady-state throughput
            bench_cdc_apply(spark)
        # best-of-K measured runs: this shared host's memory-bandwidth wall
        # moves with neighbor VMs (same-config repeats measured 118k vs
        # 213k ev/s 30 min apart, BENCH/BASELINE.md) — a single sample is
        # not adjudicable, so take the best of K and disclose every repeat
        repeats = max(int(os.environ.get("BENCH_REPEATS", "2")), 1)
        runs = [bench_cdc_apply(spark) for _ in range(repeats)]
        cdc_dt, cdc_stats = min(runs, key=lambda r: r[0])
        secs = sorted(dt for dt, _ in runs)
        mid = len(secs) // 2
        median_dt = secs[mid] if len(secs) % 2 else (secs[mid - 1] + secs[mid]) / 2
        # headline = best-of-K (the shared host's bandwidth wall moves with
        # neighbor load, so min is the least-contended estimate); the
        # selection rule and the median are disclosed so readers can judge
        # steady-state vs best-case themselves
        cdc_stats["repeat_secs"] = [round(dt, 3) for dt, _ in runs]
        cdc_stats["headline_stat"] = f"min_of_{repeats}"
        cdc_stats["median_secs"] = round(median_dt, 3)
        timings["cdc_full_apply"] = round(cdc_dt, 3)

    # BENCH_SF_SYNTH=k: run the operator suite over a k-fold derived
    # scale-up of SF_DIR instead (scale-trend evidence; k=10 ≈ sf1)
    op_dir = SF_DIR
    synth = int(os.environ.get("BENCH_SF_SYNTH", "0"))
    if synth > 1:
        op_dir = synth_scale_dir(spark, synth)

    # operator rows are best-of-K too (same host-variance rationale as the
    # CDC headline; all repeats disclosed in op_repeat_secs)
    op_repeats = max(int(os.environ.get("BENCH_OP_REPEATS", "2")), 1)
    op_repeat_secs: dict[str, list[float]] = {}
    for name in [] if os.environ.get("BENCH_SKIP_OPERATORS") else OPERATOR_BENCH:
        fn = qs[name]
        secs = []
        for _ in range(op_repeats):
            t0 = time.time()
            fn(spark, op_dir).count()
            secs.append(round(time.time() - t0, 3))
        timings[name] = min(secs)
        op_repeat_secs[name] = secs

    if not os.environ.get("BENCH_SKIP_OPERATORS"):
        # auto-scaled sign-LSH (n_planes=None -> ceil(log2(N/target))):
        # the scale path the fixed-plane oracle query can't show — bucket
        # occupancy stays ~constant as the corpus grows, so this entry
        # should grow sub-linearly across the sf-synth trend
        from pyspark.sql import functions as F

        from debezium_connector_cockroachdb_spark.operators import similarity

        emb = spark.read.parquet(f"{op_dir}/embeddings.parquet")
        qdf = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        secs = []
        for _ in range(op_repeats):
            t0 = time.time()
            similarity.cosine_topk_lsh(emb, qdf, k=3, n_planes=None).count()
            secs.append(round(time.time() - t0, 3))
        timings["ann_cosine_topk_lsh_auto"] = min(secs)
        op_repeat_secs["ann_cosine_topk_lsh_auto"] = secs

        # embedding near-dup on the SCALE configuration: auto-scaled
        # planes + count-free sizing (the oracle-gated row pins fixed
        # n_planes=3 for reproducibility, which is the documented
        # fixed-plane trap once the corpus grows — this row is the shape
        # that holds at 10^9 vectors)
        n_emb = emb.count()
        secs = []
        for _ in range(op_repeats):
            t0 = time.time()
            similarity.embedding_near_duplicates(
                emb, threshold=0.4, n_planes=None, n_vectors=n_emb
            ).count()
            secs.append(round(time.time() - t0, 3))
        timings["embedding_neardup_auto"] = min(secs)
        op_repeat_secs["embedding_neardup_auto"] = secs

        # streaming dedup on the operator corpus (the one JVM engine; the
        # key name is kept for the JSON contract)
        secs = []
        for _ in range(op_repeats):
            t0 = time.time()
            dq.q_stream_dedup(spark, op_dir).count()
            secs.append(round(time.time() - t0, 3))
        timings["stream_dedup_jvm"] = min(secs)
        op_repeat_secs["stream_dedup_jvm"] = secs

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "cdc_apply_throughput_and_operator_suite",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "cdc": cdc_stats,
        "op_repeat_secs": op_repeat_secs,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
