"""Deduplication operators for training-data pipelines over ``documents``:
exact, n-gram Jaccard, MinHash + LSH, SimHash, embedding-cosine near-dup.

Scale design notes (the part that matters at 100 TB):

* **exact** — one hash-groupBy; map-side partial agg, single shuffle on the
  16-byte fingerprint. No pairwise anything.
* **ngram-jaccard** — the naive doc×doc cross join is quadratic and dead on
  arrival; instead shingles are exploded (|D|·|shingles| rows), *document-
  frequency-filtered* (a shingle appearing in > max_df docs carries no
  discriminative signal and would fan the self-join out quadratically),
  then self-joined on the shingle. Pair candidates are bounded by
  Σ df(s)² over rare shingles — linear-ish in practice.
* **minhash-lsh** — k permutation-free universal hashes over 48-bit md5
  shingle hashes (portable to the SQL oracle, see functions/hashing.py);
  bands of r rows bucket-join candidates, exact Jaccard re-verifies. All
  shuffles key on (band, signature-slice) — uniform by construction.
* **simhash** — 48-bit sign-aggregated token hashes; near-dups share the
  fingerprint (Hamming ≤ k via band rotation left as a later round).
* **embedding cosine** — see similarity.py; near-dup = cos ≥ threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_A, MINHASH_B, MINHASH_P, md5_48
from .text import fingerprint


# ---------------- exact dedup ----------------

def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (whitespace/case-normalized) documents:
    one row per duplicated fingerprint with the keeper (min id) and the
    group size."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus: keeps the min-id representative per
    fingerprint. Window-free: arg-min aggregation gets map-side combine."""
    keep = (
        df.select(F.col(id_col).alias("_id"), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("_id").alias("keep_id"))
    )
    return df.join(keep, on=df[id_col] == keep["keep_id"], how="inner").drop("fp", "keep_id")


# ---------------- shingling ----------------

def _norm_text(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def _shingles_of_norm(norm: Column, n: int) -> Column:
    length = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(length - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(n))))


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams of the normalized text (JVM-side:
    sequence + transform + array_distinct; no UDF). NOTE: the transform
    lambda closes over the normalization chain, which Catalyst re-evaluates
    PER SHINGLE — fine for one-off column use, but bulk consumers should go
    through :func:`shingle_table`, which projects the normalized text once
    per document first (measured at sf1.0: 177 s → 23 s for the staged
    shingle explode; guide §1.2 "per-task work")."""
    return _shingles_of_norm(_norm_text(text), n)


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """(doc_id, shingle) exploded — the normalized form every similarity
    operator shares. The normalization is evaluated once per document via
    an explicit projection (the Generate boundary keeps CollapseProject
    from re-inlining it into the per-shingle lambda)."""
    return df.select(
        F.col(id_col), _norm_text(F.col(text_col)).alias("_norm")
    ).select(
        F.col(id_col), F.explode(_shingles_of_norm(F.col("_norm"), n)).alias("shingle")
    )


# ---------------- exact n-gram Jaccard ----------------

def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 5,
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    scratch_dir: str | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Document pairs with Jaccard(shingles) ≥ threshold.

    ``max_df`` drops ubiquitous shingles before the candidate self-join
    (document-frequency blocking): without it a stop-shingle present in d
    docs fans out d²/2 candidate rows. For every candidate pair the
    intersection is then re-counted on the UNFILTERED shingle table (pair →
    shingles join, fan-out linear in |pairs|·|doc shingles|, never
    quadratic), so the reported ``jaccard`` is the exact set Jaccard. Only
    *candidate generation* is blocked — a pair sharing nothing but
    ubiquitous shingles can be missed by design (at ≥0.8 similarity real
    near-dups always share rare shingles too).

    ``scratch_dir``: when given, the exploded shingle table is staged once
    as parquet and re-read by the 5 downstream consumers. Deliberately NOT
    ``.persist()``: |D|·|shingles| rows pinned in executor memory is the
    100 TB failure mode (same lesson as the lake's parquet staging,
    sources/lake.py); when None the (cheap, codegen'd) explode recomputes.

    ``shingles``: a pre-computed ``(id_col, shingle)`` exploded table for
    exactly ``df`` (e.g. one staged table shared across the jaccard /
    minhash / decontamination family — they all consume the same explode,
    so re-materializing it per operator is pure waste at any scale).
    Takes precedence over ``scratch_dir``."""
    if shingles is not None:
        sh = shingles
    else:
        sh = shingle_table(df, text_col, id_col, n)
        if scratch_dir:
            sh.write.mode("overwrite").parquet(scratch_dir)
            sh = df.sparkSession.read.parquet(scratch_dir)

    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(df_counts.filter(F.col("df") <= max_df), "shingle")

    # Candidate pairs from ONE pass over the rare rows: group each rare
    # shingle's (≤ max_df, so the collect_list buffer is cap-bounded by
    # construction — the df filter ran first) doc ids and expand ordered
    # pairs in place. The previous self-join form evaluated the whole
    # df_counts+filter chain once per join side — the dominant cost of
    # this operator at the 10× organic corpus (measured ~5 s of 14.6 s) —
    # and shipped one row per (pair, shared shingle) into the distinct.
    cand = (
        rare.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .select(F.explode("_ids").alias("id_a"), "_ids")
        .select(
            "id_a",
            F.explode(F.filter("_ids", lambda y: y > F.col("id_a"))).alias("id_b"),
        )
        .distinct()
    )
    # exact intersection per candidate pair over ALL shingles (incl. the
    # ubiquitous ones excluded from candidate generation — ADVICE fix: the
    # blocked join alone systematically underestimates jaccard). Computed
    # against the per-doc shingle ARRAYS (distinct by construction —
    # shingle_table explodes an array_distinct), so each candidate costs
    # one native array_intersect instead of fanning |pairs|·|doc shingles|
    # rows into a string-keyed shuffle join (guide §3.3: join on the
    # un-exploded key; measured 19M fan-out rows → 93k array ops).
    # One structural evaluation of the per-doc array aggregate: joining
    # doc_sets once per pair side re-ran the 10M-row collect_list shuffle
    # TWICE and broadcast one copy arrays-and-all (observed plan: two
    # ObjectHashAggregate+Exchange subtrees). Instead the pair set is
    # exploded into role-tagged probe rows and joined against a single
    # doc_sets pass; each pair then gathers its two arrays through one
    # bounded exchange (2 rows/group). The join strategy is left to
    # AQE / autoBroadcastJoinThreshold: the candidate set grows with the
    # corpus, so a forced broadcast is not bounded by driver memory.
    doc_sets = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("_set"))
    cand_ids = cand.select(
        "id_a",
        "id_b",
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("_id"), F.lit(0).alias("_r")),
                F.struct(F.col("id_b").alias("_id"), F.lit(1).alias("_r")),
            )
        ).alias("_e"),
    ).select("id_a", "id_b", F.col("_e._id").alias("_id"), F.col("_e._r").alias("_r"))
    j = doc_sets.join(cand_ids, F.col(id_col) == F.col("_id"))
    out = (
        j.groupBy("id_a", "id_b")
        .agg(
            # exactly one non-null array per role per group -> max is a
            # pick, not an order-dependent choice
            F.max(F.when(F.col("_r") == 0, F.col("_set"))).alias("_sa"),
            F.max(F.when(F.col("_r") == 1, F.col("_set"))).alias("_sb"),
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("n_inter"),
            F.size("_sa").cast("long").alias("size_a"),
            F.size("_sb").cast("long").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_inter", "size_a", "size_b", "jaccard")
    )
    return out


# ---------------- MinHash + LSH ----------------

def minhash_signatures(
    df: DataFrame, k: int = 16, n: int = 5, text_col: str = "text", id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k-wide MinHash signature per doc: min over shingles of
    (a_j·h48(shingle)+b_j) mod p. One explode + one groupBy with k mins —
    map-side combinable, single shuffle on doc_id. ``shingles`` optionally
    supplies the pre-exploded (id, shingle) table (shared staging across
    the shingle-family operators)."""
    sh = shingle_table(df, text_col, id_col, n) if shingles is None else shingles
    h = md5_48(F.col("shingle"))
    mins = [
        F.min((h * F.lit(MINHASH_A[j]) + F.lit(MINHASH_B[j])) % F.lit(MINHASH_P)).alias(f"mh{j}")
        for j in range(k)
    ]
    return sh.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    scratch_dir: str | None = None,
    shingles: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs via banded LSH over MinHash signatures, scored by
    signature agreement (estimated Jaccard = matching minhashes / k).
    bands·rows = k; a pair is a candidate if ANY band matches fully.

    ``scratch_dir``: when given, the signature table (consumed on both
    pair sides) is staged once as parquet and re-read, mirroring the
    shingle staging above. Deliberately NOT ``.persist()``: k longs ×
    10^10 docs pinned in executor memory is the 100 TB failure mode;
    parquet staging is bounded by disk and lets each consumer prune to
    the columns it reads. When None the signature chain recomputes per
    consumer (fine at test scale). ``sig``: a pre-computed signature
    table for exactly ``df`` (e.g. one staged table shared between the
    pair gate and dedup_clusters); takes precedence over both."""
    assert k % bands == 0
    rows = k // bands
    if sig is None:
        sig = minhash_signatures(df, k, n, text_col, id_col, shingles=shingles)
        if scratch_dir:
            sig.write.mode("overwrite").parquet(scratch_dir)
            sig = sig.sparkSession.read.parquet(scratch_dir)
    # a compact staged signature table scans as ONE unsplittable row
    # group, which would run the whole band join (and everything a
    # consumer chains after it) in a single task; round-robin spread it
    # first — no-op at real scale (guide §2.5 input skew). Measured at
    # the 10× organic corpus: the 9.2M-candidate band join was serial.
    from .similarity import spread_small_scan

    sig = spread_small_scan(sig)

    # The FULL signature rides each band-bucket row (k longs — still a
    # narrow row), so the candidate join scores est_jaccard inline and the
    # classic first-matching-band rule (emit a pair only from the LOWEST
    # band index on which it matches; cf. Leskovec/Rajaraman/Ullman, MMDS
    # ch.3 LSH) dedups candidates WITHOUT a pairwise distinct. The previous
    # shape shipped every duplicate band hit into a distinct() — measured
    # at sf1.0: a 62M-row/61M-group shuffle costing 73 of the row's 105 s —
    # and then re-attached both signatures with two more joins over the
    # 29M survivors. Now: one band join, a codegen'd per-row predicate,
    # zero pair-sized shuffles (guide §2.4: remove shuffles outright).
    band_cols = [
        F.struct(F.lit(b).alias("band"), *[F.col(f"mh{b * rows + r}").alias(f"v{r}") for r in range(rows)]).alias(f"b{b}")
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col),
        *[F.col(f"mh{j}") for j in range(k)],
        F.explode(F.array(*band_cols)).alias("bk"),
    )
    a = buckets.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(k)], "bk"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(k)], "bk"
    )

    def band_match(bb: int) -> Column:
        cond = F.lit(True)
        for r in range(rows):
            j = bb * rows + r
            cond = cond & (F.col(f"a{j}") == F.col(f"b{j}"))
        return cond

    # joined on band B, keep the row only if no band b' < B also matches
    first_match = F.lit(True)
    for bb in range(bands - 1):
        first_match = first_match & (
            (F.col("bk").getField("band") <= F.lit(bb)) | ~band_match(bb)
        )
    agree = sum(
        (F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(k)), F.lit(0)
    )
    # `agree` is an integer in 0..k, so `round(agree/k, 6) >= threshold`
    # collapses to an integer comparison against a boundary computed ONCE
    # at plan time (replicating Spark's Round — BigDecimal HALF_UP over
    # the double's shortest decimal repr — via the decimal module).
    # Catalyst pushes the whole filter into the join condition, where the
    # previous per-candidate round() ran a BigDecimal allocation on every
    # one of the 62M probed pairs at sf1.0; the est column itself is now
    # computed only for surviving rows, identically.
    from decimal import ROUND_HALF_UP, Decimal

    def _spark_round6(v: float) -> float:
        return float(Decimal(repr(v)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    min_agree = next(
        (g for g in range(k + 1) if _spark_round6(g / k) >= threshold), k + 1
    )
    return (
        a.join(b, "bk")
        .filter((F.col("id_a") < F.col("id_b")) & first_match & (agree >= F.lit(min_agree)))
        .withColumn("est_jaccard", F.round(agree / F.lit(k), 6))
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------- SimHash ----------------

def simhash(df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash over word tokens: for each bit, sign of Σ±1 across
    token hashes. explode → groupBy(doc) with `bits` conditional sums —
    one shuffle, map-side combinable; fingerprint assembled bit-by-bit with
    exact integer math (oracle-portable)."""
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")).alias("w"),
    ).filter(F.length("w") > 0)
    h = md5_48(F.col("w"))
    sums = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = words.groupBy(id_col).agg(*sums)
    fp = sum(
        (
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
            for b in range(bits)
        ),
        F.lit(0).cast("long"),
    )
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs with Hamming(simhash) ≤ max_hamming, via the
    classic band-rotation blocking: split the fingerprint into
    ``max_hamming+1`` bit-bands — by pigeonhole, any pair within the
    Hamming budget agrees EXACTLY on at least one band. Candidates come
    from equality joins on (band_index, band_value) — uniform shuffle keys,
    no pairwise scan — then ``bit_count(xor)`` verifies the exact distance.
    At 10^9 docs this is #bands linear passes plus per-bucket joins."""
    n_bands = max_hamming + 1
    band_width = (bits + n_bands - 1) // n_bands
    sig = simhash(df, bits, text_col, id_col)
    mask = (1 << band_width) - 1
    bands = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * band_width).bitwiseAND(F.lit(mask)).alias("v"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    )
    a = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "bk")
    b = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "bk")
    return (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------- benchmark decontamination ----------------

def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    corpus_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
) -> DataFrame:
    """Eval-set decontamination: per corpus document, how many of its
    distinct n-gram shingles appear anywhere in the benchmark corpus —
    (doc_id, n_shingles, n_contaminated). Callers drop/flag documents
    above an overlap fraction before training (the standard guard against
    benchmark leakage into pretraining data).

    Scale shape: the benchmark side is an EVAL set (thousands of docs,
    not billions) — it collapses to its distinct shingle set and
    BROADCASTS, so the corpus side is a map-side join over the scan.
    A document's exploded shingles stay partition-local, so the per-doc
    aggregation collapses map-side to one narrow row per document; the
    only shuffle moves #docs count rows."""
    bench_side = (
        benchmark.select(F.explode(char_shingles(F.col(bench_text_col), n)).alias("shingle"))
        if bench_shingles is None else bench_shingles.select("shingle")
    )
    bench_sh = bench_side.distinct().withColumn("_hit", F.lit(1))
    sh = shingle_table(corpus, text_col, id_col, n) if corpus_shingles is None else corpus_shingles
    return (
        sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("int").alias("n_contaminated"),
        )
    )


# ---------------- boilerplate detection ----------------

def top_ngrams(
    df: DataFrame,
    k: int = 20,
    n: int = 5,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The ``k`` most widespread character n-grams across the corpus by
    document frequency — the boilerplate detector (cookie banners, nav
    chrome, license headers surface as n-grams shared by huge numbers of
    documents; curation pipelines strip or down-weight documents dominated
    by them). Output: (shingle, df) with deterministic order ties broken
    by shingle ASC; shingles below ``min_df`` documents never rank.

    Scale shape: shingles are distinct per document (char_shingles), so
    document frequency is one hash-groupBy count over the exploded
    shingle table — map-side partial agg, single shuffle on the shingle
    key. The global top-k is orderBy(df DESC).limit(k): Spark plans a
    TakeOrdered — each partition keeps its own k rows, the driver merges
    #partitions × k — no global sort materializes. Pass ``shingles`` to
    reuse a staged shingle table shared with the jaccard/minhash family.
    """
    sh = shingle_table(df, text_col, id_col, n) if shingles is None else shingles
    counts = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    return counts.orderBy(F.col("df").desc(), F.col("shingle").asc()).limit(k)
