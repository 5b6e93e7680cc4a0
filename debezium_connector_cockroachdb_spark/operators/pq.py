"""Product-quantization (PQ) ANN over embedding columns — the
memory-bound scale path for similarity search.

IVF/LSH (similarity.py) prune WHICH vectors a query scores; PQ shrinks
WHAT a score costs: each vector is compressed to ``m`` byte-sized codes
(one per dimension subspace), and a query's cosine against a compressed
vector is ``m`` table lookups instead of ``dim`` multiplies (ADC —
asymmetric distance computation, Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011). At dim 1536 / m 8 that is a 192×
arithmetic reduction and — the part that matters at 10^9 vectors — a
~768× smaller scan footprint (6 KiB of floats → 8 codes), so the
candidate sweep becomes I/O-cheap enough to run un-pruned or composed
with IVF cells.

Spark shapes (what survives 100 TB):

* **train** — k-means per subspace, all ``m`` subspaces trained in the
  SAME Spark passes: one map-only encode-kernel pass assigns every
  subspace at once; re-centering is one (j, code, pos) mean aggregation.
  Only m × ksub × subdim = dim × ksub floats (the codebook) ever reach the
  driver per iteration.
* **encode** — one map-only Arrow kernel (``_encode_arrow_seq``) folds
  every (row, subspace, code) squared distance one dimension at a time,
  bit-identical to a zip_with/aggregate fold, and emits one array<int>
  code row per vector. The approximate squared norm Σ_j ||codeword_j||²
  is folded once at encode time, so scoring never re-joins the codebook.
* **score** — per query a flat m·ksub lookup table of subspace dot
  products is built (tiny: broadcast), and the corpus side is a PURE MAP:
  fold over the codes array gathering LUT entries — no shuffle until the
  bounded two-stage top-k (similarity._topk_per_query). No UDF here:
  slice/transform/aggregate higher-order functions, JVM-side.

Determinism contract (what makes the DuckDB oracle able to replay it):
stride-seeded k-means (no RNG), arg-min ties toward the lowest code,
every float fold in a fixed order (subspace index ASC), cosine rounded
to 6 before ranking, ties by neighbor id. The trained codebook itself is
staged as parquet for the oracle — everything downstream of it (encode,
LUT, ADC, rank) is re-derived independently in SQL.

Reference parity note: the reference connector has no ANN surface; this
operator extends the training-data suite (SURVEY.md §2 addenda) alongside
cosine_topk / _lsh / _ivf. ``cosine_topk_pq_rerank`` adds the exact
re-rank of the ADC candidate pool.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _clean, _flat, _gather, _norm, _row_lengths, _topk_per_query

Codebook = list[tuple[int, int, list[float]]]  # (subspace j, code, codeword)


def _dot_seq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _codebook_df(spark, codebook: Codebook) -> DataFrame:
    return spark.createDataFrame(
        [(j, c, list(cw)) for j, c, cw in codebook],
        "_j int, _code int, _cw array<double>",
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> Codebook:
    """Train the m-subspace codebook: deterministic stride seeding (the
    same widening hash filter as similarity.ivf_assign — never a global
    sort) and ``n_iters`` Lloyd steps in which ALL subspaces assign and
    re-center together (one map-only sequential-fold kernel pass + one
    (j, code, pos) mean per step). Returns [(j, code, codeword)] with
    ksub codes per subspace; cells that attract no vectors keep their
    previous codeword."""
    v = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    first = v.select(F.size("_v").alias("d")).limit(1).collect()
    if not first:
        raise ValueError("pq_train: empty corpus")
    dim = int(first[0]["d"])
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    subdim = dim // m

    n = v.count() if n_vectors is None else n_vectors
    stride = max(n // ksub, 1)
    seed_rows = (
        v.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0)
        .orderBy(id_col).limit(ksub).collect()
    )
    thr = 1
    while len(seed_rows) < ksub and thr < stride:
        thr = min(thr * 2, stride)
        seed_rows = (
            v.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) < thr)
            .orderBy(id_col).limit(ksub).collect()
        )
    codebook: Codebook = [
        (j, c, list(r["_v"][j * subdim : (j + 1) * subdim]))
        for j in range(m)
        for c, r in enumerate(seed_rows)
    ]

    for _it in range(n_iters):
        # map-only assignment (bit-identical sequential-fold kernel), then
        # the same (j, code, pos) mean as before over the identical value
        # multiset — the explode → broadcast-join → two-phase argmin chain
        # this replaces spent its wall in per-element HOF interpretation
        # (guide §4.2); only the codebook-sized mean rows reach the driver
        assigned = _encode_arrow_seq(v, codebook, id_col, "_v", carry_vec=True)
        rows = (
            assigned.select(F.posexplode("codes").alias("_j", "_c"), "_v")
            .select(
                "_j", "_c",
                F.posexplode(
                    F.slice("_v", F.col("_j") * subdim + 1, subdim)
                ).alias("_pos", "_x"),
            )
            .groupBy("_j", "_c", "_pos")
            .agg(F.avg("_x").alias("_mean"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            acc.setdefault((r["_j"], r["_c"]), {})[r["_pos"]] = r["_mean"]
        codebook = [
            (j, c, [acc[(j, c)][p] for p in range(subdim)] if (j, c) in acc else cw)
            for j, c, cw in codebook
        ]
    return codebook


def _codebook_mats(codebook: Codebook):
    """(m, ksub, subdim) codeword tensor + per-(j, code) squared norms
    computed with _dot_seq's sequential fold order (plain Python float64:
    ``((0 + x0·x0) + x1·x1) + ...`` — bit-identical to the expr fold)."""
    import numpy as np

    m = 1 + max(j for j, _c, _cw in codebook)
    ksub = 1 + max(c for _j, c, _cw in codebook)
    subdim = len(codebook[0][2])
    cmat = np.zeros((m, ksub, subdim))
    cn2 = np.zeros((m, ksub))
    for j, c, cw in codebook:
        cmat[j, c] = cw
        acc = 0.0
        for x in cw:
            acc += x * x
        cn2[j, c] = acc
    return m, ksub, subdim, cmat, cn2


def _encode_arrow_seq(
    corpus: DataFrame,
    codebook: Codebook,
    id_col: str,
    vec_col: str,
    carry_vec: bool = False,
) -> DataFrame:
    """Arrow-batched encode that is BIT-IDENTICAL to the retired expr/HOF
    encode (and to the SQL oracle downstream of a staged codebook): every
    subspace distance is folded one dimension at a time across the batch
    (``acc += (x_d − c_d)²`` — the exact zip_with/aggregate left fold of a
    squared distance), arg-min ties break to the lowest code (np.argmin
    first-hit on bit-identical distances), codeword norms and the
    reconstructed ``approx_n2`` fold in the same sequential orders as
    _dot_seq / the sorted-by-subspace aggregate. Map-only — replaces the
    explode → broadcast-join → two-phase-argmin chain whose per-element HOF
    interpretation dominated the PQ rows (guide §4.2). Null / wrong-width
    rows degrade to null codes. ``carry_vec=True`` passes the double vector
    through for the training re-center step."""
    import numpy as np
    import pyarrow as pa

    m, ksub, subdim, cmat, cn2 = _codebook_mats(codebook)
    dim = m * subdim

    def encode(batches):
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            ids = b.column(0)
            lens = _row_lengths(b.column(1))

            def codes_for(x):
                xs = x.reshape(len(x), m, subdim)
                acc = np.zeros((len(x), m, ksub))
                for d in range(subdim):
                    diff = xs[:, :, d, None] - cmat[None, :, :, d]
                    acc = acc + diff * diff
                codes = np.argmin(acc, axis=2)  # ties -> lowest code
                a2 = np.zeros(len(x))
                for j in range(m):  # sequential subspace-order fold
                    a2 = a2 + cn2[j, codes[:, j]]
                return codes.astype("int32"), a2

            if _clean(lens) and int(lens[0]) == dim:
                codes, n2 = codes_for(_flat(b.column(1)))
                codes_out = pa.array(codes.tolist(), pa.list_(pa.int32()))
                n2_out = pa.array(n2, pa.float64())
            else:
                valid = lens == dim
                codes_obj = np.empty(n, dtype=object)
                n2_obj = np.empty(n, dtype=object)
                if valid.any():
                    codes, n2 = codes_for(_gather(b.column(1), valid, lens))
                    codes_obj[valid] = [c.tolist() for c in codes]
                    n2_obj[valid] = list(n2)
                codes_out = pa.array(codes_obj.tolist(), pa.list_(pa.int32()))
                n2_out = pa.array(n2_obj.tolist(), pa.float64())
            cols = [ids, codes_out, n2_out]
            names = ["_id", "codes", "approx_n2"]
            if carry_vec:
                cols.append(b.column(1))
                names.append("_v")
            yield pa.RecordBatch.from_arrays(cols, names)

    id_type = dict(corpus.dtypes)[id_col]
    schema = f"_id {id_type}, codes array<int>, approx_n2 double"
    if carry_vec:
        schema += ", _v array<double>"
    return (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .mapInArrow(encode, schema)
        .withColumnRenamed("_id", id_col)
    )


def pq_encode(
    corpus: DataFrame,
    codebook: Codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each vector to (id, codes array<int>, approx_n2 double):
    per-subspace arg-min codes (subspace order) plus the reconstructed
    squared norm Σ_j ||codeword_{codes_j}||², folded in subspace order so
    the SQL oracle reproduces the float sum bit-for-bit. Map-only over
    the scan — the 10^9-row path. Runs the sequential-fold Arrow kernel,
    which reproduces the retired HOF expression chain bit-for-bit at batch
    speed."""
    return _encode_arrow_seq(corpus, codebook, id_col, vec_col)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook: Codebook | None = None,
    encoded: DataFrame | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes: per query one flat m·ksub
    lookup table of subspace dot products (contrib[j·ksub + code] =
    ⟨q_j, codeword⟩, built distributed and broadcast), then the corpus
    sweep is a pure map — fold over the codes array gathering LUT
    entries — followed by the bounded two-stage top-k. cos_sim is the ADC
    approximation ⟨q, q̂(v)⟩ / (‖q‖·‖q̂(v)‖) rounded to 6 (recall < 1 by
    construction; exact re-rank of survivors composes via cosine_topk on
    the id set when needed). Pass (codebook, encoded) from
    pq_train/pq_encode to reuse a trained index."""
    spark = corpus.sparkSession
    if codebook is None:
        codebook = pq_train(
            corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col, n_vectors=n_vectors
        )
    m = 1 + max(j for j, _c, _cw in codebook)
    ksub = 1 + max(c for _j, c, _cw in codebook)
    subdim = len(codebook[0][2])
    if encoded is None:
        encoded = pq_encode(corpus, codebook, id_col=id_col, vec_col=vec_col)

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qnorm", _norm(F.col("_qv")))
    qsub = q.select(
        F.col(query_id_col),
        F.col("_qnorm"),
        F.posexplode(
            F.array(*[F.slice(F.col("_qv"), j * subdim + 1, subdim) for j in range(m)])
        ).alias("_j", "_qsv"),
    )
    # sorted by (j, code) so element_at(lut, j*ksub + code + 1) lands on
    # the right entry; _qnorm rides along (constant per query)
    lut = (
        qsub.join(F.broadcast(_codebook_df(spark, codebook)), "_j")
        .select(
            query_id_col,
            "_qnorm",
            F.struct(
                F.col("_j"), F.col("_code"), _dot_seq(F.col("_qsv"), F.col("_cw")).alias("v")
            ).alias("_e"),
        )
        .groupBy(query_id_col)
        .agg(
            F.first("_qnorm").alias("_qnorm"),
            F.transform(F.array_sort(F.collect_list("_e")), lambda x: x["v"]).alias("_lut"),
        )
    )
    adot = F.aggregate(
        F.transform(
            F.col("codes"),
            lambda c, j: F.element_at(F.col("_lut"), (j * F.lit(ksub) + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = (
        encoded.crossJoin(F.broadcast(lut))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            F.col(id_col).alias("neighbor_id"),
            F.round(adot / (F.col("_qnorm") * F.sqrt(F.col("approx_n2"))), 6).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, query_id_col, k)


def cosine_topk_pq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    c_factor: int = 4,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook: Codebook | None = None,
    encoded: DataFrame | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """The production retrieval pattern: ADC over PQ codes retrieves a
    candidate pool of ``c_factor × k`` per query (cheap — m LUT lookups
    per vector, code-table scan), then ONLY those candidates are re-scored
    with the exact cosine on their float vectors and re-ranked. Output
    shape of cosine_topk with EXACT cos_sim values; recall < 1 only when
    the true top-k falls outside the ADC top-C (with C ≥ corpus size the
    result equals the brute-force top-k exactly — pinned by test).

    Scale shape: the candidate ids (q × C rows) broadcast back against
    the corpus scan — the float payload is read only for candidate rows
    (partition/file pruning applies on selective id sets); the exact
    re-score is a q×C-row map plus the bounded two-stage top-k. Nothing
    O(N·dim) happens after encode."""
    if codebook is None:
        codebook = pq_train(
            corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col, n_vectors=n_vectors
        )
    cand = cosine_topk_pq(
        corpus, queries, k=c_factor * k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, codebook=codebook, encoded=encoded,
    ).select(query_id_col, "neighbor_id")

    from .similarity import cosine

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cos_sim"),
        )
    )
    return _topk_per_query(scored, query_id_col, k)
