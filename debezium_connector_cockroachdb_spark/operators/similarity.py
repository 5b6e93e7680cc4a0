"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
  set, one pass over the corpus, per-query arg-top-k via a TWO-STAGE
  bounded aggregation (partition-local top-k, then top-k of the union).
  This is the correctness baseline.
* ``cosine_topk_lsh`` — the scale path: random-hyperplane (sign) LSH
  buckets computed with deterministic ±1 planes; queries only score
  against their bucket. At 10^9 vectors the bucket join replaces the full
  scan.
* ``cosine_topk_ivf`` — inverted-file probing: deterministic k-means
  coarse quantizer, queries score only the n_probe nearest cells.
* ``embedding_near_duplicates`` — all pairs above a cosine threshold,
  LSH-blocked and scored chunk-pair by chunk-pair.

Scale note (the round-1 lesson): a single ``collect_list`` per query
buffers O(|corpus|) structs on one reducer — dead at 10^9 rows. Every
top-k here pre-reduces per input partition (``groupBy(query, partition_id)``
→ slice k) so no aggregation buffer ever exceeds one partition's rows, and
the final reduce sees only k × #partitions rows per query.

Each operator has exactly one numeric kernel. The top-k operators score
with JVM-side expression folds (``F.zip_with`` + ``F.aggregate``, no UDF);
``embedding_near_duplicates`` buckets and scores with the Arrow
sequential-fold kernels below, which reproduce those folds bit-for-bit.
"""

from __future__ import annotations

import pyarrow as pa  # module-level: arrow_udf type hints resolve via globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input yields fewer scan
    partitions than half the cluster's cores. A compact single-row-group
    parquet table is unsplittable, so every map-heavy kernel over it runs
    on 1-2 tasks no matter the split sizing (measured: token-space dedup
    4.2 s → 1.8 s at sf1.0 once spread). A real at-scale table already
    scans as thousands of partitions, so this is a no-op there — the
    extra exchange only ever costs at small-input sizes (guide §2.5
    "input skew: one huge unsplittable file … repartition immediately
    after the read")."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target)
    return df


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_per_query(scored: DataFrame, query_id_col: str, k: int) -> DataFrame:
    """Exact arg-top-k of ``scored`` (query_id, neighbor_id, cos_sim) rows
    per query, bounded memory: stage 1 reduces each input partition to its
    own top-k (the aggregation buffer never outgrows one partition), stage
    2 reduces the k × #partitions survivors. Top-k is distributive, so the
    result is identical to a global sort. Ties break by neighbor_id ASC
    (cos_sim is rounded BEFORE ranking so tie-breaks are reproducible
    across engines)."""
    packed = F.struct(
        F.col("cos_sim"), (-F.col("neighbor_id")).alias("neg_id"), F.col("neighbor_id")
    )
    local = (
        scored.groupBy(query_id_col, F.spark_partition_id().alias("_pid"))
        .agg(F.slice(F.sort_array(F.collect_list(packed), asc=False), 1, k).alias("top"))
        .select(query_id_col, F.explode("top").alias("t"))
    )
    return (
        local.groupBy(query_id_col)
        .agg(F.slice(F.sort_array(F.collect_list("t"), asc=False), 1, k).alias("top"))
        .select(query_id_col, F.posexplode("top").alias("rank0", "t"))
        .select(
            query_id_col,
            F.col("t.neighbor_id").alias("neighbor_id"),
            (F.col("rank0") + 1).alias("rank"),
            F.col("t.cos_sim").alias("cos_sim"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query (self-matches excluded when ids
    collide). Output: (query_id, neighbor_id, rank, cos_sim)."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
    )
    c = spread_small_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            # rounded BEFORE ranking so tie-breaks are reproducible across
            # engines (two sims rounding equal must fall back to id order)
            F.round(
                cosine(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")), 6
            ).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, query_id_col, k)


# deterministic ±1 hyperplanes shared with any oracle: plane b, dim d is
# +1 iff (d*(b+3) + b*b) % 7 < 3 (fixed arithmetic pattern, no RNG)
def _plane_sign(b: int, d: Column) -> Column:
    return F.when(((d * (b + 3) + b * b) % 7) < 3, F.lit(1.0)).otherwise(F.lit(-1.0))


def auto_n_planes(n_vectors: int, target_bucket: int = 256, lo: int = 4, hi: int = 24) -> int:
    """Plane count that keeps the EXPECTED bucket size near
    ``target_bucket`` as the corpus grows: 2^planes buckets ≈ N/target →
    planes = ⌈log2(N/target)⌉, clamped. A fixed plane count is the
    measured scale trap (8 fixed buckets: 1.4s → 20.1s at a 10× corpus —
    candidate pairs grow ~quadratically inside static buckets); scaling
    planes with log(N) keeps within-bucket work per query ~constant."""
    import math

    return max(lo, min(hi, math.ceil(math.log2(max(n_vectors / max(target_bucket, 1), 2.0)))))


def lsh_bucket(vec: Column, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id in [0, 2^n_planes)."""
    dims = F.transform(vec, lambda v, i: F.struct(v.alias("v"), i.alias("i")))

    def plane_sum(b: int):
        # nb: the lambda must take exactly (acc, elem) — pyspark counts
        # parameters (incl. defaults) to pick the higher-order arity
        def step(a, x):
            return a + x["v"] * _plane_sign(b, x["i"])

        return F.aggregate(dims, F.lit(0.0), step)

    acc = F.lit(0).cast("long")
    for b in range(n_planes):
        s = plane_sum(b)
        acc = acc + F.when(s > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


# ---- Arrow sequential-fold kernels: bit-identical to the expr kernels ----
#
# Catalyst evaluates the higher-order-function folds above per ELEMENT on
# the interpreted path (measured at sf1.0: 463 s of interpreted HOF cosine
# in embedding_near_duplicates). The kernels below run the same arithmetic
# over a whole Arrow batch while keeping the expression kernels' EXACT
# left-fold order — ``acc = ((0 + x0·y0) + x1·y1) + ...`` — by accumulating
# one dimension at a time across the batch (``acc += X[:, d] * Y[:, d]``):
# each row's partial sums pass through the identical sequence of float64
# operations as ``F.aggregate(zip_with(...))``, so the results are
# bit-identical and oracle-gated queries can use them. O(dim) vectorized
# steps per batch, one Python-boundary crossing per batch.
#
# Implementation note: arrow_udf / mapInArrow, NOT pandas_udf — the pandas
# bridge materializes one ndarray PER ROW and np.stack then re-touches each
# (measured: +24 s per 10^5×1536 pass); the pyarrow ListArray instead
# exposes the flat value buffer zero-copy (`flatten().reshape(n, dim)` on a
# clean batch of fixed-width, non-null rows).

def _flat(v):
    """pyarrow list-of-double Array → (n, dim) ndarray, zero-copy.
    FAST PATH ONLY: caller has verified non-null, fixed-width input."""
    import numpy as np

    return np.asarray(v.flatten()).reshape(len(v), -1)


def _row_lengths(v):
    """Per-row lengths of a pyarrow list array; -1 marks a NULL row.
    The kernels use this to degrade to null output on null/ragged rows —
    matching the expression kernels' behavior instead of crashing the task
    on a reshape mismatch (a clean batch takes the zero-copy fast path)."""
    import numpy as np

    return np.asarray(v.value_lengths().fill_null(-1))


def _gather(v, mask, lens):
    """Rows of ``v`` selected by ``mask`` (all the same length) as an
    (m, d) matrix. ``flatten()`` drops null entries but keeps ragged ones,
    so row starts are rebuilt from the non-null rows' cumulative lengths."""
    import numpy as np

    flat = np.asarray(v.flatten())
    keep = lens >= 0
    keep_lens = lens[keep]
    starts = np.concatenate(([0], np.cumsum(keep_lens)[:-1]))
    rows = [
        flat[s : s + ln]
        for s, ln, ok in zip(starts, keep_lens, mask[keep])
        if ok
    ]
    return np.stack(rows) if rows else np.empty((0, 0))


def _clean(lens) -> bool:
    """True when every row is non-null and one fixed width."""
    return bool(len(lens)) and bool((lens == lens[0]).all()) and int(lens[0]) >= 0


def _plane_matrix(n_planes: int, dim: int):
    """The SAME deterministic ±1 planes as _plane_sign, as a matrix."""
    import numpy as np

    j = np.arange(dim)
    return np.stack(
        [np.where((j * (b + 3) + b * b) % 7 < 3, 1.0, -1.0) for b in range(n_planes)]
    )


def _seq_norms(X):
    """Row norms with _norm's sequential fold order (sqrt of Σ v·v)."""
    import numpy as np

    acc = np.zeros(X.shape[0])
    for d in range(X.shape[1]):
        v = X[:, d]
        acc = acc + v * v
    return np.sqrt(acc)


def _seq_dot_cross(A, B):
    """All-pairs dot products of A (m×d) × B (n×d), sequential fold order
    per pair (the (m,n) accumulator gains one product per dimension — the
    same left fold as _dot, vectorized across pairs)."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc = acc + A[:, d, None] * B[None, :, d]
    return acc


def _seq_plane_sums(X, n_planes: int):
    """Per-plane signed sums with lsh_bucket's sequential fold order:
    plane b's sum for a row is ``((0 + v0·s0) + v1·s1) + ...`` exactly."""
    import numpy as np

    P = _plane_matrix(n_planes, X.shape[1])
    acc = np.zeros((X.shape[0], n_planes))
    for d in range(X.shape[1]):
        acc = acc + X[:, d, None] * P[None, :, d]
    return acc


def lsh_bucket_arrow_seq(vec: Column, n_planes: int) -> Column:
    """Sign-LSH bucket ids, BIT-IDENTICAL to ``lsh_bucket`` (sequential
    per-dimension fold, strict ``> 0`` sign test, exact integer bit sum)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("long")
    def _bucket(v: pa.Array) -> pa.Array:
        import numpy as np

        lens = _row_lengths(v)
        n = len(lens)
        if not n:
            return pa.array([], pa.int64())
        weights = np.int64(1) << np.arange(n_planes, dtype=np.int64)

        def vals_for(x):
            bits = (_seq_plane_sums(x, n_planes) > 0).astype(np.int64)
            return bits @ weights

        if _clean(lens):
            return pa.array(vals_for(_flat(v)))
        # dirty batch: bucket each row at ITS length (the expr kernel folds
        # over whatever length the row has); null rows stay null
        out = np.empty(n, dtype=object)
        for d in np.unique(lens[lens >= 0]):
            m = lens == d
            out[m] = list(vals_for(_gather(v, m, lens)))
        return pa.array(out.tolist(), pa.int64())

    return _bucket(vec)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int | None = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_vectors: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    Same output shape as cosine_topk (recall < 1 by design).

    ``n_planes=None`` auto-scales the bucket count with the corpus size
    (``auto_n_planes``) so within-bucket candidate work stays ~constant as
    the corpus grows — pass an explicit value only for reproducible
    small-scale comparisons (the oracle-gated driver query does).
    ``n_vectors`` supplies the corpus size for that auto-scaling (callers
    with catalog/manifest row counts pass it — at 10^10 rows a full
    ``count()`` job just to size the buckets is gratuitous); when absent
    the operator counts once."""
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count() if n_vectors is None else n_vectors)
    c = spread_small_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        lsh_bucket(F.col(vec_col).cast("array<double>"), n_planes).alias("_bkt"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        lsh_bucket(F.col(vec_col).cast("array<double>"), n_planes).alias("_bkt"),
    )
    scored = (
        c.join(F.broadcast(q), "_bkt")
        .filter(F.col("neighbor_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "neighbor_id",
            F.round(
                cosine(F.col("_qv").cast("array<double>"), F.col("_cv").cast("array<double>")), 6
            ).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, query_id_col, k)


def ivf_assign(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse quantizer: k-means with deterministic seeding (every
    (N/k)-th vector by id order — no RNG, reproducible across runs) and
    ``n_iters`` Lloyd steps, each one Spark pass (assign via broadcast
    centroid table, re-center via groupBy mean). Returns (corpus + `_cell`
    column, centroid list). At 10^9 vectors the assign pass is map-only
    over the scan; only k×dim floats move to the driver per iteration.
    Ties in the argmin break toward the lowest cell index."""
    v = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    n = v.count() if n_vectors is None else n_vectors
    stride = max(n // n_centroids, 1)
    # deterministic seeding without collecting the corpus: a hash-stride
    # filter pulls ~k candidate rows to the driver, never the full table
    seed_rows = (
        v.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0)
        .orderBy(id_col).limit(n_centroids).collect()
    )
    # under-filled stride sample: WIDEN the hash acceptance window
    # (supersets of the first sample, still deterministic) instead of a
    # global orderBy().limit() over the corpus — at 10^9 rows that
    # TakeOrdered is a full scan + per-partition top-k for a rare seeding
    # edge case. Doubling the threshold reaches the whole corpus only when
    # the corpus itself has < n_centroids qualifying rows.
    thr = 1
    while len(seed_rows) < n_centroids and thr < stride:
        thr = min(thr * 2, stride)
        seed_rows = (
            v.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) < thr)
            .orderBy(id_col).limit(n_centroids).collect()
        )
    cents = [(i, list(r["_v"])) for i, r in enumerate(seed_rows)]

    def assign(df: DataFrame, centroids) -> DataFrame:
        # Cell assignment via broadcast-centroid join + two-phase argmin —
        # the same shape as the probe path below, NOT k literal distance
        # columns + a k-deep CASE chain (correct at k=8, but Catalyst
        # codegen blows up at the k≈10^3-10^4 cells a 10^9-vector index
        # needs; a broadcast table scales in DATA, not in plan size).
        # Phase 1 reduces the k candidate rows per vector to the narrow
        # (id, argmin cell) winner — min(struct(dist, cell)) is map-side
        # combinable and every id's candidates are partition-local, so the
        # shuffle carries ~1 narrow row per vector. Phase 2 hash-joins the
        # cell back onto the payload (never sorts it). Ties break toward
        # the lowest cell index, matching the SQL oracle's rank order.
        spark = df.sparkSession
        cent_df = spark.createDataFrame(
            [(i, list(c)) for i, c in centroids], "_cell int, _centroid array<double>"
        )
        dist = F.aggregate(
            F.zip_with(F.col("_v"), F.col("_centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        best = (
            df.select(F.col(id_col).alias("_aid"), "_v")
            .crossJoin(F.broadcast(cent_df))
            .select("_aid", F.struct(dist.alias("d"), F.col("_cell").alias("c")).alias("_dc"))
            .groupBy("_aid")
            .agg(F.min("_dc").alias("_b"))
            .select("_aid", F.col("_b.c").alias("_cell"))
        )
        return (
            df.join(best.hint("shuffle_hash"), df[id_col] == best["_aid"])
            .select(*df.columns, "_cell")
        )

    def recenter_rows(assigned: DataFrame):
        # Lloyd re-centering via posexplode → (_cell, pos) mean → k×dim
        # NARROW rows to the driver. The alternative — one avg(_v[d])
        # aggregate expression per dimension — plans O(dim) expressions:
        # fine at toy dims, but codegen/plan size blows up at the
        # dim≈1536-4096 of real embedding tables (the same plan-width trap
        # as the fixed per-centroid CASE chain this module already
        # removed). The explode shuffles (cell, pos, value) triples —
        # map-side combinable avg, uniform keys, payload never sorted.
        return (
            assigned.select("_cell", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_cell", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )

    dim = len(cents[0][1])
    for _it in range(n_iters):
        assigned = assign(v, cents)
        rows = recenter_rows(assigned)
        acc: dict[int, dict[int, float]] = {}
        for r in rows:
            acc.setdefault(r["_cell"], {})[r["_pos"]] = r["_m"]
        new = dict(cents)
        for cell, d in acc.items():
            new[cell] = [d[i] for i in range(dim)]
        cents = sorted(new.items())
    out = assign(corpus.select(F.col(id_col), F.col(vec_col),
                               F.col(vec_col).cast("array<double>").alias("_v")), cents).drop("_v")
    return out, cents


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    assigned: DataFrame | None = None,
    cents: list[tuple[int, list[float]]] | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: queries score only against the n_probe
    nearest cells' vectors (the inverted-file scale path — at 10^9 vectors
    a query touches n_probe/n_centroids of the corpus). Output shape of
    cosine_topk (recall < 1 by design). Pass a precomputed
    (``assigned``, ``cents``) pair from :func:`ivf_assign` to reuse an
    existing quantizer (e.g. to stage the centroids for an oracle).

    Fully distributed: the query set is never collected — cell probing is
    a broadcast join of queries against the (k-row) centroid table with a
    per-query rank window, so arbitrarily large query sets stream through.
    Ties in both the cell rank and the final top-k break deterministically
    (cell index ASC / neighbor_id ASC)."""
    if assigned is None or cents is None:
        assigned, cents = ivf_assign(
            corpus, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
            n_vectors=n_vectors,
        )
    spark = corpus.sparkSession

    cent_df = spark.createDataFrame(
        [(i, c) for i, c in cents], "_cell int, _centroid array<double>"
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv"))
    qdist = q.crossJoin(F.broadcast(cent_df)).select(
        query_id_col,
        "_qv",
        "_cell",
        F.aggregate(
            F.zip_with(F.col("_qv"), F.col("_centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        ).alias("_d"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.col("_d").asc(), F.col("_cell").asc())
    probe_df = (
        qdist.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_probe)
        .select(query_id_col, "_qv", "_cell")
    )
    scored = (
        assigned.join(F.broadcast(probe_df), "_cell")
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("_qv"), F.col(vec_col).cast("array<double>")), 6).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, query_id_col, k)


def _chunk_pair_kernel(threshold: float, id_dtype: str):
    """mapInArrow kernel over chunk-pair rows: each input row carries two
    chunk groups of (id, vector); the kernel scores every cross pair and
    emits candidates at ``cos >= threshold - 1e-6`` (plus non-finite cos,
    which Spark's NaN-ordering treats as ≥ any threshold) — the caller
    applies the EXACT ``round(cos, 6) >= threshold`` filter in the JVM, so
    the margin can never change the result set. Dots and norms use the
    expr kernels' sequential fold order, so the cosines are bit-identical.
    Pairs are scored only at matching vector lengths (a cross-length pair
    is NULL under zip_with's null padding, i.e. never a result row)."""
    import numpy as np

    margin = threshold - 1e-6

    def side(struct_arr):
        """group items → {vector length: (ids, matrix)} (null vecs drop)."""
        ids = np.asarray(struct_arr.field(0))
        vl = struct_arr.field(1)
        lens = np.asarray(vl.value_lengths().fill_null(-1))
        flat = np.asarray(vl.flatten())
        keep = lens >= 0
        keep_ids, keep_lens = ids[keep], lens[keep]
        starts = np.concatenate(([0], np.cumsum(keep_lens)[:-1]))
        out = {}
        for ln in np.unique(keep_lens):
            m = keep_lens == ln
            rows = [flat[s : s + ln] for s, ok in zip(starts, m) if ok]
            mat = np.stack(rows) if ln else np.zeros((int(m.sum()), 0))
            out[int(ln)] = (keep_ids[m], mat)
        return out

    def run(batches):
        import pyarrow as pa

        for b in batches:
            ca, cb = b.column(0), b.column(1)
            ia, ib = b.column(2), b.column(3)
            lo_out, hi_out, cos_out = [], [], []
            for r in range(b.num_rows):
                same = ca[r].as_py() == cb[r].as_py()
                a_side = side(ia[r].values)
                b_side = a_side if same else side(ib[r].values)
                for ln, (aids, amat) in a_side.items():
                    if ln not in b_side:
                        continue
                    bids, bmat = b_side[ln]
                    dots = _seq_dot_cross(amat, bmat)
                    na, nb = _seq_norms(amat), _seq_norms(bmat)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots / (na[:, None] * nb[None, :])
                    if same:
                        mask = aids[:, None] < bids[None, :]
                    else:
                        mask = aids[:, None] != bids[None, :]
                    keep = mask & ((cos >= margin) | ~np.isfinite(cos))
                    i, j = np.nonzero(keep)
                    if len(i):
                        ai, bj = aids[i], bids[j]
                        lo_out.append(np.minimum(ai, bj))
                        hi_out.append(np.maximum(ai, bj))
                        cos_out.append(cos[i, j])
            if lo_out:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(lo_out)).cast(id_dtype),
                        pa.array(np.concatenate(hi_out)).cast(id_dtype),
                        pa.array(np.concatenate(cos_out), pa.float64()),
                    ],
                    ["id_a", "id_b", "_cos"],
                )

    return run


_INTEGRAL_DTYPES = {"tinyint": "int8", "smallint": "int16", "int": "int32", "bigint": "int64"}


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    chunk_target: int = 1024,
) -> DataFrame:
    """Near-duplicate vector pairs (cos ≥ threshold), LSH-blocked: pairs
    are only compared within a bucket — at ≥0.95 cosine the sign vectors
    nearly always agree, so recall stays high while candidates drop from
    N² to Σ bucket². ``n_planes=None`` auto-scales with corpus size;
    ``n_vectors`` (catalog/manifest row count) makes that count-free.

    Execution (round 6): within-bucket scoring is CHUNK-BLOCKED instead of
    a row-level self-join — each bucket's vectors are split into
    ~``chunk_target``-row chunks (deterministic id-hash assignment), chunk
    pairs are joined and each pair is scored as one NumPy block inside a
    ``mapInArrow`` kernel (guide §8: decide with small rows / move payload
    once — the payload is shuffled once into chunk groups, never through a
    pair-level join, and the per-pair arithmetic leaves the interpreted
    HOF path, measured 463 s → see OPTIMIZATION_r06.md). Buckets and
    cosines keep the expression kernels' float summation order bit-exactly
    (sequential per-dimension folds). The id column must be an integral
    type; any other type raises ``ValueError``."""
    id_dtype = dict(df.dtypes).get(id_col)
    if id_dtype not in _INTEGRAL_DTYPES:
        raise ValueError(
            f"embedding_near_duplicates: id column {id_col!r} is {id_dtype}, "
            f"expected one of {sorted(_INTEGRAL_DTYPES)}"
        )
    if n_planes is None:
        n_planes = auto_n_planes(df.count() if n_vectors is None else n_vectors)
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        lsh_bucket_arrow_seq(F.col(vec_col).cast("array<double>"), n_planes).alias("_bkt"),
    ).filter(F.col("_bkt").isNotNull())
    # bucket sizes → per-bucket chunk count (expected chunk ≈ chunk_target
    # rows); the size table is one row per NON-EMPTY bucket (≈ N/target at
    # auto planes), joined back post-shuffle where AQE picks broadcast
    # when it is small. Chunk assignment hashes the id — deterministic
    # under retries (guide §2.5), duplicate ids co-locate.
    sizes = v.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    nc = F.greatest(F.ceil(F.col("_n") / F.lit(chunk_target)), F.lit(1)).cast("int")
    vc = v.join(sizes.select("_bkt", nc.alias("_nc")), "_bkt")
    vc = vc.withColumn("_ch", F.pmod(F.xxhash64("_id"), F.col("_nc")).cast("int"))
    groups = vc.groupBy("_bkt", "_ch").agg(
        F.collect_list(F.struct(F.col("_id"), F.col("_v"))).alias("_items")
    )
    ga = groups.select("_bkt", F.col("_ch").alias("_ca"), F.col("_items").alias("_ia"))
    gb = groups.select("_bkt", F.col("_ch").alias("_cb"), F.col("_items").alias("_ib"))
    pairs = ga.join(gb, "_bkt").filter(F.col("_ca") <= F.col("_cb"))
    # chunk-pair rows are few but heavy (two ~chunk_target×dim payloads);
    # spread them over the cluster before the kernel — the bucket join
    # alone leaves them partitioned by the (possibly few) bucket keys
    npart = df.sparkSession.sparkContext.defaultParallelism * 2
    scored = (
        pairs.repartition(npart, "_bkt", "_ca", "_cb")
        .select("_ca", "_cb", "_ia", "_ib")
        .mapInArrow(
            _chunk_pair_kernel(threshold, _INTEGRAL_DTYPES[id_dtype]),
            f"id_a {id_dtype}, id_b {id_dtype}, _cos double",
        )
    )
    return (
        scored.select("id_a", "id_b", F.round(F.col("_cos"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )

