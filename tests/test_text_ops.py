"""Training-data operators: text analysis, dedup family, similarity,
multimodal plumbing (engine-vs-DuckDB parity is covered by the driver
oracle; these tests pin the semantics)."""

import pytest
from pyspark.sql import functions as F

from debezium_connector_cockroachdb_spark.operators import (
    multimodal,
    similarity,
    text,
    text_dedup,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and the cat"),
    (2, "The quick  brown fox jumps over the lazy dog and the cat"),  # ws/case dup of 1
    (3, "der schnelle braune fuchs und der faule hund und die katze"),
    (4, "le renard brun rapide et le chien paresseux et la petite maison"),
    (5, "xyzzy plugh !!!"),
    (6, "the quick brown fox jumps over the lazy dog and the bat"),  # near-dup of 1
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_lang_id(spark, docs):
    got = {r["doc_id"]: r["lang_pred"] for r in text.analyze_documents(docs).collect()}
    assert got[1] == "en" and got[3] == "de" and got[4] == "fr"
    assert got[5] == "und"


def test_token_count_and_quality(spark, docs):
    rows = {r["doc_id"]: r for r in text.analyze_documents(docs).collect()}
    assert rows[1]["n_tokens"] == 12
    assert rows[5]["word_char_ratio"] < rows[1]["word_char_ratio"]
    assert 0.0 <= rows[5]["quality"] <= rows[1]["quality"] <= 1.0


def test_fingerprint_normalizes_whitespace_and_case(spark, docs):
    rows = {r["doc_id"]: r["fingerprint"] for r in text.analyze_documents(docs).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[6]


def test_exact_dedup(spark, docs):
    groups = text_dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keep_id"] == 1 and groups[0]["n_copies"] == 2
    kept = {r["doc_id"] for r in text_dedup.dedup_exact(docs).collect()}
    assert kept == {1, 3, 4, 5, 6}


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = text_dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=10).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # normalized-identical
    assert (1, 6) in got and 0.5 <= got[(1, 6)] < 1.0  # one-word-off near-dup
    assert all(a in (1, 2, 6) and b in (1, 2, 6) for a, b in got)


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    pairs = text_dedup.minhash_lsh_pairs(docs, k=16, bands=4, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got.get((1, 2)) == 1.0
    assert (1, 6) in got  # near-dup lands in a shared band


def test_simhash_collides_only_normalized_identical(spark, docs):
    fps = {r["doc_id"]: r["simhash"] for r in text_dedup.simhash(docs, bits=32).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [0.7, 0.7, 0.0, 0.0]),
]


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.cosine_topk(vecs, q, k=2).collect()
    assert [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])] == [1, 4]
    assert got[0]["cos_sim"] > 0.99


def test_embedding_near_duplicates(spark, vecs):
    pairs = similarity.embedding_near_duplicates(vecs, threshold=0.99, n_planes=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_lsh_topk_recall_on_clear_neighbors(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.cosine_topk_lsh(vecs, q, k=2, n_planes=2).collect()
    ids = {r["neighbor_id"] for r in got}
    assert 1 in ids  # the 0.999-cosine twin must share every sign bucket


def test_multimodal_features_roundtrip(spark, docs):
    media = multimodal.documents_as_media(docs)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[1]["n_bytes"] == len(DOCS[0][1].encode())
    import hashlib
    assert feats[1]["checksum"] == hashlib.md5(DOCS[0][1].encode()).hexdigest()
    # opaque bytes carry no recognizable container header → null features
    assert feats[1]["width"] is None and feats[1]["sample_rate"] is None


def test_multimodal_typed_header_decode(spark, docs):
    """REAL header parsing: the typed generator writes genuine BMP/PNG/WAV
    containers and extract_features recovers the dimensions / audio params
    from the BYTES — values must equal the construction arithmetic."""
    import hashlib

    media = multimodal.documents_as_typed_media(docs)
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    hdr = {0: multimodal.BMP_HEADER, 1: multimodal.PNG_HEADER, 2: multimodal.WAV_HEADER}
    for i, text in DOCS:
        f = feats[i]
        kind = i % 3
        assert f["n_bytes"] == len(text.encode()) + hdr[kind]
        assert f["checksum"] == hashlib.md5(text.encode()).hexdigest()
        if kind in (0, 1):  # BMP / PNG images
            assert (f["width"], f["height"]) == (i % 317 + 1, i % 211 + 1)
            assert f["sample_rate"] is None and f["channels"] is None
            assert f["mime"] == ("image/bmp" if kind == 0 else "image/png")
        else:  # WAV audio
            assert (f["sample_rate"], f["channels"]) == (8000 + (i % 8) * 1000, i % 2 + 1)
            assert f["width"] is None and f["height"] is None
            assert f["mime"] == "audio/wav"


def test_multimodal_decode_header_direct():
    """Pure byte-level checks, independent of Spark: struct-built headers
    parse back exactly; truncated/garbage bytes yield all-None."""
    bmp = multimodal._bmp_payload(100, b"body")
    assert multimodal.decode_header(bmp) == (100 % 317 + 1, 100 % 211 + 1, None, None)
    png = multimodal._png_payload(7, b"")
    assert multimodal.decode_header(png) == (8, 8, None, None)
    wav = multimodal._wav_payload(5, b"xyz")
    assert multimodal.decode_header(wav) == (None, None, 8000 + 5 % 8 * 1000, 2)
    assert multimodal.decode_header(b"BM too short") == (None, None, None, None)
    assert multimodal.decode_header(b"random bytes here") == (None, None, None, None)
    assert multimodal.decode_header(None) == (None, None, None, None)
    # BMP top-down rows store negative height; decode reports magnitude
    import struct as _s

    td = bytearray(multimodal._bmp_payload(100, b""))
    td[22:26] = _s.pack("<i", -(100 % 211 + 1))
    assert multimodal.decode_header(bytes(td))[1] == 100 % 211 + 1
    # opaque text that merely STARTS with "BM" must not sniff as BMP: the
    # structural checks (data offset == 54, biSize == 40) reject it, so it
    # gets null features and a full-payload checksum, not garbage dims
    fake = b"BM" + b"x" * 80
    assert multimodal.decode_header(fake) == (None, None, None, None)
    assert multimodal.header_len(fake) == 0


def test_frame_sample_plan(spark, docs):
    media = multimodal.documents_as_media(docs)
    rows = multimodal.frame_sample_plan(media, every_n_bytes=16).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["media_id"], []).append((r["frame_idx"], r["byte_offset"]))
    n1 = len(DOCS[0][1].encode())
    assert len(by_id[1]) == (n1 - 1) // 16 + 1
    assert by_id[1][0] == (0, 0)


def test_simhash_near_duplicates_hamming(spark, docs):
    """Band-rotation blocking must find all pairs within the Hamming
    budget (pigeonhole guarantee) and report exact distances."""
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in text_dedup.simhash_near_duplicates(docs, max_hamming=6, bits=32).collect()}
    assert pairs.get((1, 2)) == 0            # normalized-identical
    if (1, 6) in pairs:                       # one-word-off near-dup
        assert 0 < pairs[(1, 6)] <= 6
    # exhaustive cross-check against brute-force popcount
    fps = {r["doc_id"]: r["simhash"] for r in text_dedup.simhash(docs, bits=32).collect()}
    expected = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in fps for b in fps if a < b and bin(fps[a] ^ fps[b]).count("1") <= 6
    }
    assert pairs == expected


def test_ivf_topk_recall_on_clear_neighbors(spark, vecs):
    """IVF probe must find the 0.999-cosine twin (it shares the cell) and
    keep exact ranking within the probed subset."""
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.cosine_topk_ivf(vecs, q, k=2, n_centroids=2, n_probe=1).collect()
    ids = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert ids[0] == 1


def test_ivf_assign_deterministic_and_total(spark, vecs):
    a1, c1 = similarity.ivf_assign(vecs, n_centroids=2)
    a2, c2 = similarity.ivf_assign(vecs, n_centroids=2)
    assert c1 == c2
    m1 = {r["vec_id"]: r["_cell"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["_cell"] for r in a2.collect()}
    assert m1 == m2 and len(m1) == 5  # every vector assigned exactly once


def test_ivf_recenter_high_dim(spark):
    """Lloyd re-centering must stay narrow at real embedding widths: the
    posexplode → (cell, pos) mean path plans a FIXED number of aggregate
    expressions regardless of dim (the old avg(_v[d]) fan-out planned one
    per dimension — codegen pain at dim≈1536-4096). At dim=1024 with two
    well-separated clusters the recovered centroids are exactly the
    per-cluster means."""
    dim = 1024
    rows = []
    for i in range(6):
        base = 1.0 if i < 3 else 100.0
        rows.append((i, [base + i] * dim))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = similarity.ivf_assign(df, n_centroids=2, n_iters=2)
    by_cell = {}
    for r in assigned.collect():
        by_cell.setdefault(r["_cell"], set()).add(r["vec_id"])
    assert sorted(map(sorted, by_cell.values())) == [[0, 1, 2], [3, 4, 5]]
    got = sorted(c[0] for _i, c in cents)
    assert got == [2.0, 104.0]  # exact means: (1+2+3)/3 shifted, (103+104+105)/3
    assert all(len(c) == dim for _i, c in cents)


def test_rolling_fingerprint_properties(spark):
    """Rabin-Karp fingerprint: matches the pure-Python fold, and the
    ROLLING property holds — h(a||b) = h(a)*B^|b| + h(b) (mod P), which is
    what makes windowed substring fingerprints O(1) per slide."""
    import pyspark.sql.functions as F

    from debezium_connector_cockroachdb_spark.operators.text import (
        ROLLING_BASE,
        ROLLING_MOD,
        rolling_fingerprint,
    )

    def norm(s):
        import re
        return re.sub(r"\s+", " ", s.strip().lower())

    def rk(s):
        h = 0
        for ch in norm(s):
            h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
        return h

    texts = ["Hello  World", "", "   ", "abcé ü", "a", "x" * 500]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = {r["i"]: r["fp"] for r in df.select("i", rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == rk(t), (i, t)

    a, b = "foo bar", "baz qux"  # normalized concat == concat of normalized halves + space
    whole = rk(a + " " + b)
    left, right = rk(a), rk(" " + b)  # note: norm strips leading space; compute manually
    h = rk(a)
    for ch in " " + norm(b):
        h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
    assert h == whole


def test_bpe_piece_count_matches_python_re(spark):
    import re

    import pyspark.sql.functions as F

    from debezium_connector_cockroachdb_spark.operators.text import BPE_PIECE_RE, bpe_piece_count

    texts = ["it's 42 red-cars!  go", "hello", "", "a1b2", "don't   stop", "«quoted» text\nnewline"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = {r["i"]: r["n"] for r in df.select("i", bpe_piece_count(F.col("text")).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(re.findall(BPE_PIECE_RE, t)), (i, t)


def test_ann_recall_on_real_embeddings(spark):
    """Recall@3 of the approximate ANN paths vs exact top-k over the real
    sf0.01 embeddings (deterministic input -> deterministic recall).
    These embeddings are near-random — the WORST case for sign-LSH (top
    neighbors are not much closer than average, so bucket agreement is
    weak; clustered data recovers recall, pinned by the clear-neighbors
    tests above). IVF probing degrades gracefully and recovers with
    n_probe. Floors sit below the measured values (0.65/0.65/0.88) to
    absorb engine-version noise while catching broken bucketing joins."""
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")

    def result_set(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = result_set(similarity.cosine_topk(emb, q, k=3))
    lsh1 = result_set(similarity.cosine_topk_lsh(emb, q, k=3, n_planes=1))
    lsh3 = result_set(similarity.cosine_topk_lsh(emb, q, k=3, n_planes=3))
    ivf2 = result_set(similarity.cosine_topk_ivf(emb, q, k=3, n_centroids=8, n_probe=2))
    ivf4 = result_set(similarity.cosine_topk_ivf(emb, q, k=3, n_centroids=8, n_probe=4))

    def recall(approx):
        return len(approx & exact) / len(exact)

    assert recall(lsh1) >= 0.5, recall(lsh1)
    assert recall(lsh1) > recall(lsh3)       # coarser buckets -> more candidates -> higher recall
    assert recall(ivf2) >= 0.5, recall(ivf2)
    assert recall(ivf4) >= recall(ivf2)      # more probes -> monotonically better
    assert recall(ivf4) >= 0.75, recall(ivf4)
    assert all(qid != nid for qid, nid in lsh1 | ivf2)  # never self-matches


def test_ivf_assign_scales_in_data_not_plan(spark):
    """Corpus cell assignment must be the broadcast-centroid join (plan
    size independent of k), not k literal distance columns + a k-deep
    CASE chain — run at n_centroids=64 on the sf0.1 embeddings and assert
    the plan carries no per-centroid expression chain."""
    import contextlib
    import io

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    assigned, cents = similarity.ivf_assign(emb, n_centroids=64)
    assert len(cents) == 64
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assigned.explain("formatted")
    plan = buf.getvalue()
    # a when-chain assign would embed >= k CASE WHEN branches
    assert plan.count("CASE WHEN") < 10
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
    # total assignment: every vector lands in exactly one valid cell
    n = emb.count()
    stats = assigned.groupBy().agg(
        F.count("*").alias("n"), F.min("_cell").alias("lo"), F.max("_cell").alias("hi")
    ).first()
    assert stats["n"] == n and 0 <= stats["lo"] and stats["hi"] <= 63


def test_auto_n_planes_tracks_corpus_size(spark):
    a = similarity.auto_n_planes
    assert a(1_000) <= a(100_000) <= a(10_000_000) <= a(1_000_000_000)
    assert a(10_000_000_000) <= 24       # clamped
    assert a(10) >= 4                    # floor
    # expected bucket occupancy stays near target across 3 decades
    for n in (10**6, 10**8, 10**10):
        planes = a(n, target_bucket=256)
        assert 64 <= n / (2 ** planes) <= 1024, (n, planes)


def test_multimodal_sniff_consistency():
    """decode_header and header_len must share one recognition predicate:
    for ANY bytes, features recognized ⟺ header consumed (else checksums
    hash header bytes or drop body bytes on edge-length payloads)."""
    cases = [
        multimodal._bmp_payload(3, b"xy"),
        multimodal._png_payload(4, b""),
        multimodal._wav_payload(9, b"abc"),
        multimodal._wav_payload(9, b"")[:40],          # truncated WAV
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 40,           # PNG sig, no IHDR
        b"RIFF\x00\x00\x00\x00WAVEdata" + b"\x00" * 40,  # WAVE, no fmt chunk
        b"BM short",
        b"opaque text bytes",
        b"",
    ]
    for b in cases:
        recognized = multimodal.decode_header(b) != (None, None, None, None)
        assert (multimodal.header_len(b) > 0) == recognized, b[:16]


def test_redact_pii_semantics(spark):
    """Email → URL → IP order: an IP inside a URL is redacted as part of
    the URL (never double-counted); bare IPs and emails get their own
    placeholders; clean text passes through byte-identical."""
    rows = [
        (1, "mail me at jane.doe+x@sub.example.org or visit http://10.0.0.1:8080/a?b=c soon"),
        (2, "server 192.168.0.254 and 8.8.8.8 are up"),
        (3, "nothing sensitive here"),
        (4, "x@y.com y@z.net https://a.example/p 1.2.3.4"),
        (5, "version 1.2.3.4567 is not an ip"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_urls"] == 1 and got[1]["n_ips"] == 0
    assert got[1]["text_redacted"] == "mail me at <EMAIL> or visit <URL> soon"
    assert got[2]["n_ips"] == 2
    assert got[2]["text_redacted"] == "server <IP> and <IP> are up"
    assert (got[3]["n_emails"], got[3]["n_urls"], got[3]["n_ips"]) == (0, 0, 0)
    assert got[3]["text_redacted"] == "nothing sensitive here"
    assert got[4]["text_redacted"] == "<EMAIL> <EMAIL> <URL> <IP>"
    # dotted version strings: counts must agree with the placeholders the
    # redaction actually wrote (engine-agreement on the \b edge is what
    # the DuckDB gate pins; this asserts internal consistency)
    assert got[5]["n_ips"] == got[5]["text_redacted"].count("<IP>")


def test_repetition_signals(spark):
    """Counter semantics against hand-computed values: duplicated lines,
    top word/bigram frequencies, empty-text edges."""
    rows = [
        (1, "a b a b a"),                        # words: a=3, b=2; bigrams: 'a b'=2,'b a'=2
        (2, "line one\nline two\nline one"),     # 'line one' x2 -> 2*8=16 dup chars
        (3, ""),                                 # empty: all zeros
        (4, "unique words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    assert got[1]["n_words"] == 5 and got[1]["top_word_count"] == 3
    assert got[1]["n_bigrams"] == 4 and got[1]["top_bigram_count"] == 2
    assert got[2]["dup_line_chars"] == 16 and got[2]["total_chars"] == len(rows[1][1])
    assert got[3]["n_words"] == 0 and got[3]["top_word_count"] == 0
    assert got[3]["n_bigrams"] == 0 and got[3]["dup_line_chars"] == 0
    assert got[4]["top_word_count"] == 1 and got[4]["top_bigram_count"] == 1
    assert got[4]["dup_line_chars"] == 0


def test_benchmark_contamination(spark, docs):
    """Doc 1 (benchmark) contaminates its whitespace/case duplicate (2)
    fully and its near-dup (6) heavily; unrelated docs (3,4,5) share at
    most incidental shingles."""
    bench = docs.filter(F.col("doc_id") == 1)
    corpus = docs.filter(F.col("doc_id") != 1)
    res = text_dedup.benchmark_contamination(corpus, bench)
    got = {r["doc_id"]: r for r in res.collect()}
    assert got[2]["n_contaminated"] == got[2]["n_shingles"]  # exact dup: 100%
    frac6 = got[6]["n_contaminated"] / got[6]["n_shingles"]
    assert frac6 > 0.7                                       # near-dup: heavy overlap
    for i in (3, 4, 5):
        assert got[i]["n_contaminated"] / got[i]["n_shingles"] < 0.3
    # plan: benchmark side broadcasts; corpus never shuffles pre-aggregation
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_repetition_signals_no_phantom_tokens(spark):
    """Leading/trailing whitespace (incl. newlines — trim only strips
    spaces) must not contribute empty-string 'words': '\\na\\n' is ONE
    word, and a trailing newline adds no bigram."""
    rows = [(1, "\na\n"), (2, "hello world\n"), (3, "  x  "), (4, "a\n\na")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    assert (got[1]["n_words"], got[1]["top_word_count"]) == (1, 1)
    assert (got[2]["n_words"], got[2]["n_bigrams"], got[2]["top_bigram_count"]) == (2, 1, 1)
    assert (got[3]["n_words"], got[3]["top_word_count"]) == (1, 1)
    assert (got[4]["n_words"], got[4]["top_word_count"]) == (2, 2)
    # token_count shares the tokenizer
    tc = {r["doc_id"]: r["n"] for r in df.select("doc_id", text.token_count(F.col("text")).alias("n")).collect()}
    assert tc == {1: 1, 2: 2, 3: 1, 4: 2}


def test_redact_pii_url_boundaries(spark):
    """URL redaction must not eat adjacent non-PII bytes: closing
    punctuation stays, CRLF keeps its carriage return."""
    rows = [
        (1, "visit (https://example.com) today"),
        (2, "see https://a.example/x\r\nnext line"),
        (3, "link https://b.example/p?q=1, then more"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text_redacted"] for r in text.redact_pii(df).collect()}
    assert got[1] == "visit (<URL>) today"
    assert got[2] == "see <URL>\r\nnext line"
    assert got[3] == "link <URL>, then more"


def test_ann_plan_width_dim_independent(spark):
    """The ANN plans must not fan out with embedding dimension: the
    zip_with/aggregate dot product and the per-plane LSH folds are single
    expressions regardless of dim (the historical traps planned one term
    per dimension — codegen death at real embedding widths). Optimized
    plan size at dim 1536 must sit within noise of dim 8 for the same row
    count."""
    def plan_chars(dim):
        vecs = spark.range(20).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: (F.pmod(F.xxhash64(F.col("id"), j), F.lit(2001)) / 1000.0 - 1.0),
            ).alias("embedding"),
        )
        q = vecs.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        df = similarity.cosine_topk_lsh(vecs, q, k=3, n_planes=6)
        return len(df._jdf.queryExecution().optimizedPlan().toString())

    small, big = plan_chars(8), plan_chars(1536)
    assert big < small * 1.5 + 2000, (small, big)


def test_ann_arrow_kernel_null_and_ragged(spark):
    """The Arrow sequential-fold kernels must DEGRADE like the expression
    kernels on dirty vectors, not crash the task on a reshape mismatch: a
    null embedding gets a null bucket and joins no pair; a ragged row
    buckets exactly like ``lsh_bucket`` at its own length, but never pairs
    with a row of another width (zip_with null-pads, nulling the cosine)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, None),
        (3, [1.0, 0.0]),  # same sign buckets as 0, other width
        (4, [1.0, 0.0]),
        (5, [1.0, 1.0, 0.0, 0.0]),  # plane 0 sums to exactly 0: bit stays 0
    ]
    # one partition -> one Arrow batch, so the kernels take the dirty path
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    got = {
        r["vec_id"]: (r["seq"], r["expr"])
        for r in df.select(
            "vec_id",
            similarity.lsh_bucket_arrow_seq(F.col("embedding"), 4).alias("seq"),
            similarity.lsh_bucket(F.col("embedding"), 4).alias("expr"),
        ).collect()
    }
    assert got[2][0] is None  # (lsh_bucket's when/otherwise maps null to 0)
    assert all(s == e and s is not None for i, (s, e) in got.items() if i != 2), got
    assert got[0][0] == got[3][0]  # the cross-width pair shares a bucket

    pairs = similarity.embedding_near_duplicates(df, threshold=0.99, n_planes=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1), (3, 4)}


def test_lsh_bucket_arrow_seq_bit_identical_to_expr(spark):
    """The near-dup gate's blocking runs ``lsh_bucket_arrow_seq``; its
    DuckDB oracle replays ``lsh_bucket``'s fold. Every row of the real
    embeddings table must land in the same bucket under both kernels."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    v = F.col("embedding").cast("array<double>")
    for n_planes in (3, 6, 12):
        diff = emb.filter(
            ~similarity.lsh_bucket_arrow_seq(v, n_planes).eqNullSafe(
                similarity.lsh_bucket(v, n_planes)
            )
        ).count()
        assert diff == 0, (n_planes, diff)


def test_near_duplicates_rejects_non_integral_ids(spark):
    df = spark.createDataFrame([("a", [1.0, 0.0])], "vec_id string, embedding array<double>")
    with pytest.raises(ValueError, match="vec_id"):
        similarity.embedding_near_duplicates(df, n_planes=2)


# ---------------- boilerplate n-gram detection ----------------

SF = "/root/testdata/sf0.001"


def test_top_ngrams_matches_python_oracle(spark):
    import re

    from debezium_connector_cockroachdb_spark.operators.text_dedup import top_ngrams

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    df_py: dict[str, int] = {}
    for r in d.select("text").collect():
        norm = re.sub(r"\s+", " ", r["text"].strip().lower())
        grams = {norm[i : i + 5] for i in range(max(len(norm) - 4, 1))}
        for g in grams:
            df_py[g] = df_py.get(g, 0) + 1
    want = sorted(
        ((g, n) for g, n in df_py.items() if n >= 2), key=lambda x: (-x[1], x[0])
    )[:15]

    got = [(r["shingle"], r["df"]) for r in top_ngrams(d, k=15, min_df=2).collect()]
    assert got == want


def test_top_ngrams_min_df_and_staged_reuse(spark):
    from debezium_connector_cockroachdb_spark.operators.text_dedup import (
        shingle_table,
        top_ngrams,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    staged = shingle_table(d)
    a = top_ngrams(d, k=10, min_df=3).collect()
    b = top_ngrams(d, k=10, min_df=3, shingles=staged).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert all(r["df"] >= 3 for r in a)
