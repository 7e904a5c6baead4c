"""North-star ops: dedup / similarity / text analysis / multimodal."""

import math

import pytest
from pyspark.sql import functions as F

from db_spark.llm import dedup, similarity, text, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "der hund und die katze sind ein team mit den besten"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, text.fingerprint(F.col("text")))
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 2, 3, 5]  # doc 4 deduped; min id kept


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], ["t"])
    got = df.select(dedup.shingles(F.col("t"), 3).alias("s")).collect()[0]["s"]
    assert got == ["a b c", "b c d"]


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in got  # near dup shares most shingles
    assert (1, 3) not in got


def test_shingle_df_guard_drops_ubiquitous_shingle(spark):
    """An adversarial shingle present in every doc must not turn the
    candidate set quadratic: with the guard it is dropped from candidate
    generation AND the Jaccard arithmetic (both sides of the oracle)."""
    common = "of the and"  # one shared shingle across all docs
    rows = [(i, f"{common} unique{i} token{i} filler{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # guard tighter than the corpus df: the only shared shingle is gone,
    # so no candidates survive at all
    guarded = dedup.ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=10)
    assert guarded.count() == 0
    # unguarded: every pair is a candidate (quadratic) — 20*19/2 pairs
    # share exactly that one shingle
    raw = dedup.ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=None)
    assert raw.count() == 190


def test_lsh_bucket_cap_skips_hot_bucket(spark):
    """A degenerate corpus where one band bucket holds every doc must not
    produce O(n^2) pairs when the bucket exceeds the cap."""
    rows = [(i, "identical text shared by every single document here")
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signature(df, max_shingle_df=None)
    capped = dedup.lsh_candidate_pairs(sig, max_bucket_size=10)
    assert capped.count() == 0  # every bucket has 12 > 10 members
    uncapped = dedup.lsh_candidate_pairs(sig, max_bucket_size=None)
    assert uncapped.count() == 12 * 11 // 2


def test_minhash_lsh(docs):
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 4) in got
    assert (1, 3) not in got


def test_minhash_bucket_cap_counts_members_not_distinct_sets(spark):
    """r12 identical-set grouping must keep the bucket cap exact: 12
    byte-identical docs are ONE distinct set but TWELVE bucket members,
    so every bucket exceeds cap 10 and no pair may surface; without
    the cap all 66 within-group pairs come back at est 1.0."""
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog repeatedly")
         for i in range(12)], "doc_id long, text string")
    capped = dedup.minhash_dedup_pairs(
        df, threshold=0.5, max_shingle_df=None, max_bucket_size=10)
    assert capped.count() == 0
    full = dedup.minhash_dedup_pairs(
        df, threshold=0.5, max_shingle_df=None, max_bucket_size=None)
    rows = full.collect()
    assert len(rows) == 12 * 11 // 2
    assert all(r["est_jaccard"] == 1.0 for r in rows)


def test_minhash_cross_pairs_expand_losslessly(spark):
    """Grouped minhash equals the ungrouped public pieces (signature,
    LSH candidates, component-equality fraction) on a corpus with two
    identical-set groups that are near-dups of each other: 3 copies of
    A, 2 of B. A and B share two of their four bands, so those buckets
    hold 5 members but only 2 representatives; cap 4 must skip them
    (no cross pairs) while the A-only and B-only buckets survive. Member
    ids order opposite to their reps' (4 > 2), so expansion must swap."""
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango")
    a_txt, b_txt = base, base + " uniform victor whiskey"
    df = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, b_txt), (4, a_txt), (5, a_txt)],
        "doc_id long, text string")
    sig = dedup.minhash_signature(df, max_shingle_df=None)
    comps = {r.doc_id: [r[f"m{i}"] for i in range(16)]
             for r in sig.collect()}

    def est(x, y):
        return sum(p == q for p, q in zip(comps[x], comps[y])) / 16

    for cap, n_cross in ((None, 6), (4, 0)):
        cand = dedup.lsh_candidate_pairs(sig, max_bucket_size=cap).collect()
        want = {(r.id_a, r.id_b): est(r.id_a, r.id_b) for r in cand}
        got = {(r.id_a, r.id_b): r.est_jaccard
               for r in dedup.minhash_dedup_pairs(
                   df, threshold=0.5, max_shingle_df=None,
                   max_bucket_size=cap).collect()}
        assert got == {p: e for p, e in want.items() if e >= 0.5}, cap
        cross = {p for p in got if (p[0] in (1, 4, 5)) != (p[1] in (1, 4, 5))}
        assert len(cross) == n_cross and len(got) == n_cross + 4, cap


def test_minhash_estimates_jaccard(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in dedup.minhash_dedup_pairs(docs, threshold=0.0, bands=16, k=16).collect()}
    assert pairs[(1, 4)] == 1.0


def test_simhash_pairs(docs):
    out = dedup.simhash_pairs(docs, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert got[(1, 4)] == 0
    assert all(h <= 3 for h in got.values())


def test_simhash_deterministic(docs):
    a = docs.select(dedup.simhash(F.col("text")).alias("s")).collect()
    b = docs.select(dedup.simhash(F.col("text")).alias("s")).collect()
    assert [r["s"] for r in a] == [r["s"] for r in b]


@pytest.fixture(scope="module")
def vectors(spark):
    import math
    rows = []
    for i in range(20):
        angle = i * math.pi / 40
        rows.append((i, [math.cos(angle), math.sin(angle), 0.1 * i, 1.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(vectors):
    queries = vectors.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(vectors, queries, k=3)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, hits in by_q.items():
        assert len(hits) == 3
        top = min(hits, key=lambda r: r["rank"])
        assert top["vec_id"] == qid and top["sim"] == 1.0  # self is nearest


def test_ivf_topk_approximates(vectors):
    queries = vectors.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(vectors, queries, k=3, n_cells=4, n_probe=2).collect()
    assert len(out) == 3
    assert out[0]["vec_id"] == 5  # self found via its own cell


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.embedding_near_dup_pairs(df, dim=4, threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got and (1, 3) not in got


def test_embedding_near_dup_expression_path(spark):
    # string ids force the non-kernel expression path (fast=False);
    # r12 regression guard: the fast-path refactor once dropped the
    # shared signature projection this branch consumes
    rows = [
        ("a", [1.0, 0.0, 0.0, 0.0]),
        ("b", [0.999, 0.001, 0.0, 0.0]),   # near dup of a
        ("c", [0.0, 1.0, 0.0, 0.0]),       # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = similarity.embedding_near_dup_pairs(df, dim=4, threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert ("a", "b") in got and ("a", "c") not in got


def test_text_stats(docs):
    out = {r["doc_id"]: r for r in text.text_stats(docs).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[1]["lang_pred"] == "en"
    assert out[5]["lang_pred"] == "de"
    assert out[1]["fingerprint"] == out[4]["fingerprint"]
    assert 0.0 <= out[1]["quality"] <= 1.0


def test_multimodal_pipeline(spark):
    rows = [
        (1, "image", bytearray(b"\x00\x01\x02" * 100), ("image/png", 10, 10, None, None)),
        (2, "audio", bytearray(b"\xff\xfe" * 50), ("audio/wav", None, None, 1000, 16000)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = multimodal.extract_features(df, decoder="fake").collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == 300
    assert len(by_id[1]["features"]) == 8
    assert by_id[1]["content_hash"] is not None
    stats = {r["modality"]: r for r in multimodal.media_stats(df).collect()}
    assert stats["image"]["total_bytes"] == 300


def test_multimodal_video_decoder_stubbed(spark):
    """Video has no stdlib codec — the honest stub still raises."""
    rows = [(1, "video", bytearray(b"xx"), None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|no decoder"):
        multimodal.extract_features(df).collect()


def test_multimodal_image_decoder_rejects_garbage(spark):
    """The real image decoder parses formats — garbage bytes error."""
    rows = [(1, "image", bytearray(b"xx"), None)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="unsupported image format"):
        multimodal.extract_features(df).collect()


def test_resize_media_updates_meta_and_payload(spark):
    from db_spark.llm import multimodal as mm

    rows = [(1, "image", b"x" * 4096, {"mime": "image/png", "width": 100,
                                       "height": 100, "duration_ms": None,
                                       "sample_rate": None})]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.resize_media(df, 32, 32).collect()
    assert out[0]["meta"]["width"] == 32 and out[0]["meta"]["height"] == 32
    assert 0 < len(out[0]["payload"]) < 4096
    assert mm.resize_media(df, 32, 32).schema == mm.MEDIA_SCHEMA


def test_sample_frames_explodes_rows(spark):
    from db_spark.llm import multimodal as mm

    rows = [(7, "video", bytes(range(200)), {"mime": "video/mp4", "width": None,
                                             "height": None, "duration_ms": 5000,
                                             "sample_rate": None})]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    frames = mm.sample_frames(df, every_ms=1000, max_frames=16).collect()
    assert len(frames) == 5  # 5000ms / 1000ms
    assert [f["frame_idx"] for f in frames] == [0, 1, 2, 3, 4]
    assert all(f["media_id"] == 7 for f in frames)
    assert b"".join(f["payload"] for f in frames) == bytes(range(200))


def test_ivf_recall_vs_brute_force(spark):
    """IVF quality floor: with n_probe/n_cells = 1/4 of the corpus
    scanned, recall@5 against brute force stays useful on the real
    embeddings table."""
    from db_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"recall@5 {recall:.2f} below floor"


def test_ivf_kmeans_refinement_improves_recall(spark):
    """Deterministic Lloyd refinement must beat the raw lowest-id seeds
    on queries that are NOT the seed vectors themselves (seed queries are
    trivially recalled: they ARE centroids)."""
    from db_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 216)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.brute_force_topk(emb, queries, k=5).collect()}
    plain = {(r["query_id"], r["vec_id"])
             for r in similarity.ivf_topk(
                 emb, queries, k=5, n_cells=16, n_probe=2).collect()}
    refined = {(r["query_id"], r["vec_id"])
               for r in similarity.ivf_topk(
                   emb, queries, k=5, n_cells=16, n_probe=2,
                   refine_iters=2).collect()}
    r_plain = len(exact & plain) / len(exact)
    r_ref = len(exact & refined) / len(exact)
    assert r_ref >= r_plain, f"refined {r_ref:.3f} < seed {r_plain:.3f}"
    assert r_ref >= 0.45


def test_ivf_kmeans_centroids_deterministic(spark):
    """Scaled-BIGINT mean accumulation makes centroids identical across
    runs and partitionings."""
    from db_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = similarity.ivf_kmeans_centroids(emb, n_cells=8, n_iter=2)
    b = similarity.ivf_kmeans_centroids(emb.repartition(7), n_cells=8, n_iter=2)
    ca = {r["cell_id"]: r["_cvec"] for r in a.collect()}
    cb = {r["cell_id"]: r["_cvec"] for r in b.collect()}
    assert ca == cb


def test_chunk_documents(spark):
    # tokens() keeps [a-zA-Z']+ only, so use alphabetic words
    words = [f"w{chr(ord('a') + i)}" for i in range(10)]  # wa..wj
    df = spark.createDataFrame([(1, " ".join(words)), (2, "short text"), (3, "")],
                               "doc_id long, text string")
    out = text.chunk_documents(df, chunk_tokens=4, overlap=1)
    rows = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
            for r in out.collect()}
    # doc 1: 10 tokens, stride 3 -> starts 0,3,6,9 -> 4 chunks
    assert rows[(1, 0)] == (4, "wa wb wc wd")
    assert rows[(1, 1)] == (4, "wd we wf wg")
    assert rows[(1, 3)] == (1, "wj")       # trailing partial kept
    assert rows[(2, 0)] == (2, "short text")
    assert not any(d == 3 for d, _ in rows)  # empty doc -> no chunks
    import pytest

    with pytest.raises(ValueError):
        text.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_quantize_int8_roundtrip(spark):
    from db_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = similarity.quantize_int8(emb)
    joined = q.join(emb, "vec_id").select(
        "vec_id", "scale",
        F.array_max(F.transform(F.col("qvec"), F.abs)).alias("qmax"),
        F.array_max(F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            similarity.dequantize(F.col("scale"), F.col("qvec")),
            lambda a, b: F.abs(a - b))).alias("err"),
    )
    for r in joined.collect():
        assert r["qmax"] <= 127
        # symmetric round-to-nearest: reconstruction error <= scale/2
        assert r["err"] <= r["scale"] / 2 + 1e-12


def test_connected_components_clusters(spark):
    from db_spark.llm.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_mmr_rerank_prefers_diversity(spark):
    """With two near-identical top candidates, MMR must pick the
    diverse third vector at rank 2 even though its relevance is lower."""
    vecs = spark.createDataFrame(
        [(1, [0.99, 0.14, 0.0]),     # very relevant
         (2, [0.99, 0.141, 0.0]),    # near-copy of 1
         (3, [0.6, -0.8, 0.0])],     # less relevant but diverse
        "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "query_id long, embedding array<float>")
    cand = similarity.brute_force_topk(vecs, q, k=3)
    out = {r["mmr_rank"]: r["vec_id"]
           for r in similarity.mmr_rerank(cand, vecs, k=3, lam=0.5).collect()}
    assert out[1] == 1          # rank 1 = pure relevance
    assert out[2] == 3          # rank 2 = diverse vector beats the near-copy
    assert out[3] == 2
    # determinism under repartition
    out2 = {r["mmr_rank"]: r["vec_id"]
            for r in similarity.mmr_rerank(
                cand.repartition(7), vecs.repartition(5), k=3,
                lam=0.5).collect()}
    assert out2 == out


def test_jaccard_similarity_join_exact_vs_bruteforce(spark):
    """Prefix filtering must be lossless: the PPJoin-style join equals
    the unfiltered inverted-index brute force at every threshold."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different document about spark physical plans"),
        (4, "a completely different document about spark logical plans"),
        (5, "short"),  # < n tokens: no shingles, never paired
        (6, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        got = {(r.id_a, r.id_b, r.jaccard)
               for r in dedup.jaccard_similarity_join(df, t).collect()}
        want = {(r.id_a, r.id_b, round(r.jaccard, 6))
                for r in dedup.ngram_jaccard_pairs(
                    df, threshold=t, max_shingle_df=None,
                    group_identical=False).collect()}
        assert got == want, t
    # exact duplicates surface with jaccard 1.0
    got = dedup.jaccard_similarity_join(df, 0.99).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 6)}
    assert got[0].jaccard == 1.0


def test_jaccard_join_duplicate_group_expansion(spark):
    """The identical-set fast path must expand representative pairs to
    every group member: 3 copies of A and 2 copies of B (A~B above
    threshold) yield all within-group 1.0 pairs plus all 6 cross pairs
    carrying the representatives' exact jaccard."""
    a_txt = "the quick brown fox jumps over the lazy dog today"
    b_txt = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, a_txt), (4, b_txt), (5, a_txt)],
        "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.jaccard_similarity_join(df, 0.3).collect()}
    want = {(r.id_a, r.id_b): round(r.jaccard, 6)
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.3, max_shingle_df=None,
                group_identical=False).collect()}
    assert got == want
    # every pair is present: C(5,2) = 10 (all A-A, B-B, and A-B pairs)
    assert len(got) == 10
    assert got[(1, 3)] == got[(3, 5)] == got[(2, 4)] == 1.0
    cross = {got[p] for p in [(1, 2), (1, 4), (2, 3), (2, 5), (3, 4), (4, 5)]}
    assert len(cross) == 1 and 0.3 <= cross.pop() < 1.0


def _expand_grouped_pairs(grouped, member_map):
    """Reference expansion of the grouped near-dup form back to member
    pairs: self rows (rep==rep) expand to all within-group pairs, rep
    pairs to the cross product of the two groups."""
    out = {}
    for r in grouped:
        rep_a, rep_b = r[0], r[1]
        val = r[2]
        if rep_a == rep_b:
            ms = sorted(member_map[rep_a])
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    out[(ms[i], ms[j])] = val
        else:
            for x in member_map[rep_a]:
                for y in member_map[rep_b]:
                    out[(min(x, y), max(x, y))] = val
    return out


def test_jaccard_grouped_encodes_pair_expansion(spark):
    """output='grouped' must be a lossless compression of the pair
    form: expanding (rep_a, rep_b, jaccard, count_a, count_b) by group
    membership reproduces output='pairs' exactly."""
    a_txt = "the quick brown fox jumps over the lazy dog today"
    b_txt = "the quick brown fox jumps over the lazy dog tonight"
    c_txt = "a completely different document about spark physical plans"
    df = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, a_txt), (4, b_txt), (5, a_txt),
         (6, c_txt)],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.jaccard_similarity_join(df, 0.3).collect()}
    grouped = dedup.jaccard_similarity_join(
        df, 0.3, output="grouped").collect()
    members = {1: [1, 3, 5], 2: [2, 4], 6: [6]}
    counts = {(r.rep_a, r.rep_b): (r.count_a, r.count_b) for r in grouped}
    assert counts == {(1, 1): (3, 3), (2, 2): (2, 2), (1, 2): (3, 2)}
    assert _expand_grouped_pairs(
        [(r.rep_a, r.rep_b, r.jaccard) for r in grouped], members) == pairs


def test_simhash_tokenless_docs_have_no_signature(spark):
    """No tokens -> NULL signature, excluded from pairing: otherwise
    every empty/digits-only/non-ASCII doc would pair with every other
    at Hamming 0 (a quadratic garbage group), and any explode-based
    SQL oracle would disagree (it has no rows for them)."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps today"),
         (2, "the quick brown fox jumps today"),
         (3, ""), (4, None), (5, "12345 67890"), (6, "中文文本 99")],
        "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in df.select(
        "doc_id", dedup.simhash(F.col("text")).alias("simhash")).collect()}
    assert sigs[1] == sigs[2] and sigs[1] is not None
    assert sigs[3] is None and sigs[4] is None
    assert sigs[5] is None and sigs[6] is None
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_pairs(df).collect()}
    assert pairs == {(1, 2)}  # no empty-doc pairings
    grouped = dedup.simhash_pairs(df, output="grouped").collect()
    assert {(r.rep_a, r.rep_b, r.count_a) for r in grouped} == {(1, 1, 2)}


def test_ngram_jaccard_grouping_lossless(spark):
    """The identical-set fast path inside ngram_jaccard_pairs must equal
    the direct inverted-index brute force (group_identical=False) on a
    duplicate-saturated corpus, at every threshold — including the
    within-group 1.0 pairs and the expanded cross pairs."""
    a_txt = "the quick brown fox jumps over the lazy dog today"
    b_txt = "the quick brown fox jumps over the lazy dog tonight"
    c_txt = "a completely different document about spark physical plans"
    df = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, a_txt), (4, b_txt), (5, a_txt),
         (6, c_txt), (7, "short")],
        "doc_id long, text string")
    for t in (0.3, 0.5, 0.8, 1.0):
        got = {(r.id_a, r.id_b, r.jaccard)
               for r in dedup.ngram_jaccard_pairs(df, threshold=t).collect()}
        want = {(r.id_a, r.id_b, r.jaccard)
                for r in dedup.ngram_jaccard_pairs(
                    df, threshold=t, group_identical=False).collect()}
        assert got == want, t
    # a threshold above 1.0 excludes even identical sets on both paths
    assert dedup.ngram_jaccard_pairs(df, threshold=1.1).count() == 0


def test_ngram_jaccard_grouped_output(spark):
    """output='grouped' on the inverted-index join is the same lossless
    compression contract as the PPJoin tier."""
    a_txt = "the quick brown fox jumps over the lazy dog today"
    b_txt = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, a_txt), (4, b_txt), (5, a_txt)],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.3).collect()}
    grouped = dedup.ngram_jaccard_pairs(
        df, threshold=0.3, output="grouped").collect()
    members = {1: [1, 3, 5], 2: [2, 4]}
    counts = {(r.rep_a, r.rep_b): (r.count_a, r.count_b) for r in grouped}
    assert counts == {(1, 1): (3, 3), (2, 2): (2, 2), (1, 2): (3, 2)}
    assert _expand_grouped_pairs(
        [(r.rep_a, r.rep_b, r.jaccard) for r in grouped], members) == pairs
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(df, output="nonsense")
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(
            df, output="grouped", group_identical=False)


def test_simhash_grouped_encodes_pair_expansion(spark):
    """Same lossless-compression contract for the SimHash tier."""
    a_txt = "the quick brown fox jumps over the lazy dog today"
    c_txt = "a completely different document about spark physical plans"
    df = spark.createDataFrame(
        [(1, a_txt), (2, a_txt), (3, c_txt), (4, a_txt), (5, c_txt)],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_pairs(df, max_hamming=3).collect()}
    grouped = dedup.simhash_pairs(
        df, max_hamming=3, output="grouped").collect()
    # signature groups: {1,2,4} (a_txt) and {3,5} (c_txt)
    members = {1: [1, 2, 4], 3: [3, 5]}
    for r in grouped:
        assert (r.count_a, r.count_b) == (
            len(members[r.rep_a]), len(members[r.rep_b]))
    assert _expand_grouped_pairs(
        [(r.rep_a, r.rep_b, r.hamming) for r in grouped], members) == pairs
    with pytest.raises(ValueError):
        dedup.simhash_pairs(df, output="nonsense")


def test_unpersist_plan_caches(spark):
    """The grouping builders register their plan-scoped caches; the
    helper releases them all and is idempotent."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")] * 3
        + [(2, "a completely different document about spark plans")],
        "doc_id long, text string")
    dedup.unpersist_plan_caches()  # drop leftovers from other tests
    dedup.simhash_pairs(df).count()
    dedup.jaccard_similarity_join(df, 0.5).count()
    # simhash members + jaccard sh + members + sh_rep (the r12 PPJoin
    # verify caches the representative shingle table too)
    assert dedup.unpersist_plan_caches() == 4
    assert dedup.unpersist_plan_caches() == 0


def test_plan_caches_are_checkpointed_before_the_builder_returns(spark):
    """A plan cache is a checkpointed RDD by the time its builder
    returns. A lazy checkpoint is marked by whichever consumer job
    computes it first, and that can deadlock against the DAG scheduler
    submitting a concurrent AQE stage that reads the same RDD."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")] * 3
        + [(2, "a completely different document about spark plans")],
        "doc_id long, text string")
    dedup.unpersist_plan_caches()
    out = dedup.jaccard_similarity_join(df, 0.5)
    caches = list(dedup._PLAN_CACHES)
    assert caches
    for cached in caches:
        leaf = cached._jdf.queryExecution().analyzed()
        assert leaf.nodeName() == "LogicalRDD"
        assert leaf.rdd().isCheckpointed()
    out.collect()
    dedup.unpersist_plan_caches()


def test_select_representatives_quality_argmax(spark):
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long")
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5)],
        "doc_id long, q double")
    out = {r["cluster_id"]: r["keep_id"]
           for r in dedup.select_representatives(
               clusters, docs, F.col("q")).collect()}
    # cluster 1: docs 2 and 3 tie at 0.9 -> smallest id wins (2), and
    # quality beats the min-id canonical (1); cluster 10: tie -> 10
    assert out == {1: 2, 10: 10}


def test_dedup_corpus_keep_best_keeps_singletons_and_best(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog every day"),
         (2, "the quick brown fox jumps over the lazy dog every day"),
         (3, "!!! ???")],  # low quality, no near-dup
        "doc_id long, text string")
    kept = dedup.dedup_corpus_keep_best(
        docs, text.quality_score(F.col("text")), k=16, bands=4,
        threshold=0.5)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # identical docs 1/2 tie on quality -> min id 1 kept; singleton 3
    # survives regardless of quality
    assert ids == [1, 3]


# ---------------------------------------------------------------------------
# Corpus curation: repetition / surprisal / packing / decontamination /
# sampling / BM25
# ---------------------------------------------------------------------------

def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [(1, "go go go go"),          # 2-grams: "go go" x3 -> all dup
         (2, "a b c d"),              # no repeats
         (3, "x")],                   # too short for 2-grams
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert got[1]["n_2grams"] == 3
    assert got[1]["dup_2gram_frac"] == pytest.approx(2 / 3)
    assert got[1]["top_2gram_frac"] == 1.0
    assert got[2]["dup_2gram_frac"] == 0.0
    assert got[3]["n_2grams"] == 0 and got[3]["top_2gram_frac"] == 0.0


def test_unigram_surprisal(spark):
    # corpus: "a" x6, "rare" x2 -> N=8; bits(a)=floor(log2(8/6))=0,
    # bits(rare)=floor(log2(8/2))=2
    df = spark.createDataFrame(
        [(1, "a a a a a a"), (2, "rare rare")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.unigram_surprisal(df).collect()}
    assert got[1]["sum_bits"] == 0 and got[1]["n_tokens"] == 6
    assert got[2]["sum_bits"] == 4 and got[2]["avg_bits"] == 2.0


def test_bigram_surprisal(spark):
    # model: (a,b):2 (b,a):2 (a,c):1; prev totals a:3, b:2
    # bits(a,b)=floor(log2(3/2))=0, bits(b,a)=0, bits(a,c)=floor(log2 3)=1
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a c"), (3, "solo")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.bigram_surprisal(df).collect()}
    assert set(got) == {1, 2}  # single-token doc contributes nothing
    assert got[1]["n_bigrams"] == 4 and got[1]["sum_bits"] == 0
    assert got[2]["n_bigrams"] == 1 and got[2]["sum_bits"] == 1
    assert got[2]["avg_bits"] == 1.0


def test_pack_sequences(spark):
    # 5 chunks of 10 tokens in one shard, capacity 25:
    # offsets 0,10,20,30,40 -> packs 0,0,0,1,1
    chunks = spark.createDataFrame(
        [(8, c, 10) for c in range(5)], "doc_id long, chunk_id long, n_tokens long")
    got = {(r["shard"], r["pack_id"]): (r["n_chunks"], r["n_tokens"])
           for r in text.pack_sequences(chunks, capacity=25, shards=4).collect()}
    assert got[(0, 0)] == (3, 30)
    assert got[(0, 1)] == (2, 20)


def test_decontaminate(spark):
    from db_spark.llm import corpus

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),   # shares 4-grams with eval
         (2, "totally unrelated words here now")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta zeta")], "doc_id long, text string")
    got = {r["doc_id"]: r["n_shared_grams"]
           for r in corpus.decontaminate(train, ev, n=4).collect()}
    assert got == {1: 1}  # only "alpha beta gamma delta" shared


def test_stratified_sample_deterministic(spark):
    from db_spark.llm import corpus
    from db_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    rates = {"en": 0.6, "de": 0.3}
    a = sorted(r["doc_id"] for r in
               corpus.stratified_sample(docs, rates).collect())
    b = sorted(r["doc_id"] for r in
               corpus.stratified_sample(docs.repartition(7), rates).collect())
    assert a == b and len(a) > 0          # partition-invariant
    n_en = docs.filter(F.col("lang") == "en").count()
    got_en = len([1 for r in
                  corpus.stratified_sample(docs, rates).collect()
                  if r["lang"] == "en"])
    assert 0 < got_en < n_en              # actually downsampled


def test_bm25_ranks_term_frequency(spark):
    from db_spark.llm import corpus

    df = spark.createDataFrame(
        [(1, "spark spark spark fast engine"),
         (2, "spark appears once here only"),
         (3, "no relevant terms at all"),
         (4, "merge spark merge window spark")],
        "doc_id long, text string")
    out = corpus.bm25_topk(df, ["spark", "merge", "window"], k=3).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["doc_id"] == 4          # matches all three terms
    assert {r["doc_id"] for r in out} == {1, 2, 4}  # doc 3 never scored


def test_chunk_pack_token_conservation(spark):
    """Invariants: non-overlapping chunking partitions the token stream
    exactly, and packing redistributes chunks without losing any."""
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = [(i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 90))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    chunks = text.chunk_documents(df, chunk_tokens=16, overlap=0)
    per_doc = {r["doc_id"]: r["s"] for r in chunks.groupBy("doc_id")
               .agg(F.sum("n_tokens").alias("s")).collect()}
    truth = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", F.size(text.tokens(F.col("text"))).alias("n")).collect()}
    for d, n in truth.items():
        assert per_doc.get(d, 0) == n          # exact partition of tokens

    packs = text.pack_sequences(chunks, capacity=64, shards=4)
    assert (packs.agg(F.sum("n_tokens")).collect()[0][0]
            == sum(truth.values()))            # packing loses nothing
    # pack ids are dense from 0 within each shard
    for shard, ids in {s: sorted(r["pack_id"] for r in rows_)
                       for s, rows_ in __import__("itertools").groupby(
                           sorted(packs.collect(), key=lambda r: r["shard"]),
                           key=lambda r: r["shard"])}.items():
        assert ids == list(range(len(ids)))


def test_span_dup_stats(spark):
    """Docs 1 and 2 share an exact 6-token span; doc 3 shares nothing
    that long. window=5 flags only 1 and 2, with correct window counts."""
    shared = "one two three four five six"  # 6 tokens -> two 5-windows
    rows = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"{shared} delta epsilon zeta"),
        (3, "one two three other words entirely unrelated here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.span_dup_stats(df, window=5).collect()}
    assert set(out) == {1, 2}
    # doc 1: 9 tokens -> 5 windows, 2 duplicated (at 1-based pos 3 and 4)
    assert out[1]["n_windows"] == 5
    assert out[1]["n_dup_windows"] == 2
    assert out[1]["first_dup_pos"] == 3
    # doc 2: shared span at the start -> first dup window at pos 1
    assert out[2]["first_dup_pos"] == 1
    assert out[2]["dup_frac"] == pytest.approx(2 / 5)


def test_temperature_sample_flattens_mixture(spark):
    """tau=0.5 keeps all of the rarest group and ~sqrt(c_min/c_g) of the
    rest; the sample is a deterministic subset (re-run identical)."""
    from db_spark.llm import corpus

    rows = [(i, "en" if i < 900 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = corpus.temperature_sample(df, group_col="lang", tau=0.5)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["fr"] == 100                      # rarest keeps everything
    expected_en = (100 / 900) ** 0.5 * 900       # ~300
    assert abs(got["en"] - expected_en) < 60     # hash-uniform tolerance
    again = corpus.temperature_sample(df, group_col="lang", tau=0.5)
    assert sorted(r["doc_id"] for r in again.collect()) == \
        sorted(r["doc_id"] for r in out.collect())


def test_cap_per_group(spark):
    """At most n rows kept per group, by stable hash — deterministic."""
    from db_spark.llm import corpus

    rows = [(i, f"s{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus.cap_per_group(df, group_col="source", n=5)
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"s0": 5, "s1": 5, "s2": 5}
    again = corpus.cap_per_group(df, group_col="source", n=5)
    assert sorted(r["doc_id"] for r in again.collect()) == \
        sorted(r["doc_id"] for r in out.collect())


def test_redact_pii(spark):
    """Each category is counted on the raw text and replaced by its
    typed token; SSN is consumed before the phone pattern can half-eat
    it; clean text passes through untouched."""
    rows = [
        (1, "mail a.b+c@ex-ample.org or x@y.io now"),
        (2, "ssn 123-45-6789 phone 555-867-5309 ip 10.0.0.7"),
        (3, "no pii in this perfectly ordinary sentence"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id",
        text.pii_counts(F.col("text")).alias("c"),
        text.redact_pii(F.col("text")).alias("red"),
    ).select("doc_id", "c.*", "red").collect()}
    assert (out[1]["n_email"], out[1]["n_ssn"]) == (2, 0)
    assert out[1]["red"] == "mail [EMAIL] or [EMAIL] now"
    assert (out[2]["n_email"], out[2]["n_ssn"], out[2]["n_phone"],
            out[2]["n_ipv4"]) == (0, 1, 1, 1)
    assert out[2]["red"] == "ssn [SSN] phone [PHONE] ip [IPV4]"
    assert out[3]["red"] == rows[2][1]


def test_span_dup_edges(spark):
    """Edge semantics: min_df counts DISTINCT docs (a span repeated only
    within one document is not corpus-duplicated); docs shorter than the
    window never appear; exact-window-length docs produce one window."""
    rows = [
        (1, "a b c d e a b c d e"),        # internal repeat only
        (2, "one two three four"),          # 4 tokens < window=5
        (3, "p q r s t"),                   # exactly one window
        (4, "x p q r s t y"),               # contains doc 3's window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.span_dup_stats(df, window=5).collect()}
    assert set(out) == {3, 4}               # 1 not flagged, 2 absent
    assert out[3]["n_windows"] == 1 and out[3]["n_dup_windows"] == 1
    assert out[4]["first_dup_pos"] == 2


def test_span_dup_matches_python_model(spark):
    """Cross-check against an independent pure-Python implementation on
    a seeded random corpus (third implementation next to the DuckDB
    oracle)."""
    import random
    import re
    from collections import Counter

    rng = random.Random(11)
    vocab = ["ab", "cd", "ef", "gh", "ij"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
            for i in range(120)]
    W = 3
    wins = {}
    for i, t in rows:
        toks = re.findall(r"[a-z']+", t.lower())
        wins[i] = [" ".join(toks[k:k + W]) for k in range(len(toks) - W + 1)]
    docs_per_win = Counter()
    for i, ws in wins.items():
        for w in set(ws):
            docs_per_win[w] += 1
    expect = {}
    for i, ws in wins.items():
        dup = [(p + 1, w) for p, w in enumerate(ws) if docs_per_win[w] >= 2]
        if dup:
            expect[i] = (len(ws), len(dup), len({w for _, w in dup}),
                         min(p for p, _ in dup))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"],
                         r["n_dup_distinct"], r["first_dup_pos"])
           for r in dedup.span_dup_stats(df, window=W).collect()}
    assert got == expect


def test_temperature_sample_single_group_keeps_all(spark):
    from db_spark.llm import corpus

    df = spark.createDataFrame([(i, "en") for i in range(50)],
                               "doc_id long, lang string")
    assert corpus.temperature_sample(df, group_col="lang").count() == 50


def test_redact_pii_boundaries(spark):
    """PII at the string edges and back-to-back matches all redact."""
    rows = [(1, "a@b.io 1.2.3.4"), (2, "999-12-3456")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", text.redact_pii(F.col("text")).alias("red")).collect()}
    assert got[1] == "[EMAIL] [IPV4]"
    assert got[2] == "[SSN]"


def test_remove_dup_spans(spark):
    """The lowest-id owner of a duplicated span keeps its text; others
    lose exactly the covered tokens; a fully-covered doc comes back
    empty rather than vanishing; untouched docs are not returned."""
    span = "one two three four five"
    rows = [
        (1, f"intro {span} outro"),
        (2, f"start {span} end"),
        (3, span),                    # fully covered
        (4, "nothing shared here at all today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.remove_dup_spans(df, window=5).collect()}
    assert set(out) == {2, 3}         # doc 1 is the winner, 4 untouched
    assert out[2]["n_tokens_removed"] == 5
    assert out[2]["clean_text"] == "start end"
    assert out[3]["n_tokens_removed"] == 5
    assert out[3]["clean_text"] == ""


def test_collocations_ranks_association(spark):
    """'strong coffee' co-occurs always; 'the cat' shares 'the' with
    many other pairs — the exclusive pair must rank first, and pairs
    under min_count must not appear."""
    rows = [(i, "strong coffee please " * 3 + "the cat sat the dog ran the bird flew")
            for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.collocations(df, min_count=5, k=10).collect()
    # 'strong coffee' and 'coffee please' are exact ties (identical pair
    # and unigram counts); both must outrank every 'the *' pair
    assert {out[0]["bigram"], out[1]["bigram"]} == {
        "strong coffee", "coffee please"}
    the_pairs = [r for r in out if r["bigram"].startswith("the ")]
    assert all(r["ratio"] < out[0]["ratio"] for r in the_pairs)
    assert all(r["pair_count"] >= 5 for r in out)
    ranks = [r["rank"] for r in out]
    assert ranks == list(range(1, len(out) + 1))


def test_quality_rules_verdicts(spark):
    """Each rule trips on its crafted offender; the clean doc keeps."""
    good = ("the quick brown fox and the lazy dog ran over "
            "a hill in the warm sun for fun")          # 18 words, stopwords
    rows = [
        (1, good),                                     # passes all rules
        (2, "too short"),                              # r_word_count
        (3, "a b c d e f g h i j k l m n o p"),        # avg word len < 3
        (4, good + " !!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@ !!! ###"),
        (5, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16"), # alpha + stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.quality_rules(df).collect()}
    assert out[1]["keep"]
    assert all(out[1][f] for f in (
        "r_word_count", "r_avg_word_len", "r_symbol_ratio",
        "r_alpha_words", "r_stopwords"))
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    assert not out[3]["r_avg_word_len"] and not out[3]["keep"]
    assert not out[4]["r_symbol_ratio"] and not out[4]["keep"]
    assert not out[5]["r_alpha_words"] and not out[5]["r_stopwords"]
    # informational columns agree with the verdict arithmetic
    assert out[1]["n_words"] == 18
    assert out[5]["stopword_hits"] == 0


# -- round 3: kmv merge/null, cc convergence, pack shards, quality nulls ----

def test_kmv_merge_equals_union_sketch(spark):
    """The mergeability property the 100 TB rollup story rests on:
    merge(sketch(A), sketch(B)) == sketch(A union B), per group."""
    from db_spark import sketch as sk

    a = spark.range(0, 500).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v"))
    b = spark.range(300, 900).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v"))
    sa = sk.kmv_sketch(a, F.col("v"), k=32, group_cols=["g"])
    sb = sk.kmv_sketch(b, F.col("v"), k=32, group_cols=["g"])
    merged = sk.kmv_merge(sa, sb, k=32, group_cols=["g"])
    direct = sk.kmv_sketch(a.unionByName(b), F.col("v"), k=32, group_cols=["g"])
    got = sorted((r["g"], r["_h"]) for r in merged.collect())
    want = sorted((r["g"], r["_h"]) for r in direct.collect())
    assert got == want
    est = {r["g"]: r for r in
           sk.kmv_estimate(merged, k=32, group_cols=["g"]).collect()}
    # 450 distinct per group; k=32 estimate within 40%
    for g in (0, 1):
        assert 270 <= est[g]["est_distinct"] <= 630


def test_kmv_sketch_ignores_nulls(spark):
    from db_spark import sketch as sk

    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), ("c",)], "v string")
    got = sk.kmv_estimate(sk.kmv_sketch(df, F.col("v"), k=8), k=8).collect()
    assert got[0]["n_hashes"] == 3  # null consumed no slot
    assert got[0]["est_distinct"] == 3


def test_connected_components_unconverged_raises(spark):
    from db_spark.llm.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9, 0, -1)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # warn mode returns partial labels instead
    import warnings
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(chain, max_iter=2, on_unconverged="warn")
        assert out.count() == 10
        assert any("did not converge" in str(x.message) for x in w)
    # enough rounds: one cluster rooted at the min id
    ok = connected_components(chain, max_iter=12).collect()
    assert {r["cluster_id"] for r in ok} == {1}


def test_pack_sequences_default_shards_scale(spark):
    from db_spark.llm import text

    chunks = spark.createDataFrame(
        [(d, c, 10) for d in range(20) for c in range(3)],
        "doc_id long, chunk_id long, n_tokens long")
    out = text.pack_sequences(chunks, capacity=25)  # default shards
    n_shards = out.select("shard").distinct().count()
    par = spark.sparkContext.defaultParallelism
    assert n_shards == min(20, par)  # shards follows cluster parallelism
    # pinned shards: result invariant to input partitioning
    a = text.pack_sequences(chunks.repartition(13), capacity=25, shards=4)
    b = text.pack_sequences(chunks.coalesce(1), capacity=25, shards=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_quality_rules_null_text(spark):
    """NULL text coalesces to '' — all verdicts false, keep false (and
    identical to the DuckDB oracle's COALESCE)."""
    from db_spark.llm import text

    df = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox and the lazy dog ran over "
                        "a hill in the warm sun for fun")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.quality_rules(df).collect()}
    assert out[1]["n_words"] == 0
    assert not out[1]["keep"] and not out[1]["r_word_count"]
    assert out[1]["avg_word_len"] == 0.0
    assert out[2]["keep"]


def test_ivf_index_persisted_probe_prunes_files(spark, tmp_path):
    """VERDICT r3 #3: the persisted IVF index is partitioned by cell_id
    and a probe must physically read ONLY the probed cells — asserted on
    the plan's PartitionFilters AND on the executed scan's numFiles
    metric — while returning exactly what the in-flight ivf_topk
    returns, on both model-builder branches (seed centroids and
    Lloyd-refined)."""
    from db_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    for refine_iters in (2, 0):
        idx = str(tmp_path / f"ivf{refine_iters}")
        similarity.ivf_index_build(emb, idx, n_cells=8,
                                   refine_iters=refine_iters)
        got = similarity.ivf_index_topk(spark, idx, queries, k=5, n_probe=2)
        expect = similarity.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2,
                                     refine_iters=refine_iters)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, expect.collect())), refine_iters
    # the pruning proofs below run on the last pass: the seed-centroid
    # index, whose 8 cells are all non-empty
    # plan proof: the probe's literal IN filter became a partition filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell_id" in plan.replace("#", " "), plan[:2000]
    # physical proof: the executed corpus scan's numFiles metric counts
    # only probed cell directories (3 queries x <=2 probes of 8 cells)
    def walk(node, out):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name or "BatchScan" in name:
            out.append(node)
        if "QueryStage" in name:
            try:
                walk(node.plan(), out)
            except Exception:
                pass
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), out)
        return out

    pe = got._jdf.queryExecution().executedPlan()
    root = pe.executedPlan() if "Adaptive" in pe.getClass().getName() else pe
    # (location strings truncate, so identify the corpus scan by its
    # partition filter rather than its path)
    corpus_scans = [sc for sc in walk(root, [])
                    if "PartitionFilters: [cell_id" in sc.toString().replace("#", " ")]
    assert corpus_scans, "no corpus scan found in executed plan"
    n_files = max(sc.metrics().get("numFiles").get().value()
                  for sc in corpus_scans)
    n_cells_on_disk = sum(
        1 for d in (tmp_path / "ivf0" / "corpus").iterdir()
        if d.name.startswith("cell_id="))
    assert n_cells_on_disk == 8
    assert 0 < n_files <= 6 < n_cells_on_disk  # strictly pruned


# ---------------------------------------------------------------------------
# Token-budget mixture sampling
# ---------------------------------------------------------------------------

def _tb_docs(spark, groups):
    # text with a known token count per doc: "w w w ... w" (n tokens)
    rows = [(g, i, " ".join(["w"] * n))
            for g, docs in groups.items() for i, n in docs]
    return spark.createDataFrame(rows, "source string, doc_id long, text string")


def test_token_budget_matches_naive_prefix(spark):
    """Bucketed two-phase selection == naive hash-ordered prefix, with
    few buckets so full / boundary / dropped cells all occur."""
    from pyspark.sql import functions as F
    from db_spark.llm.corpus import token_budget_sample
    from db_spark.llm.dedup import h32

    docs = _tb_docs(spark, {"a": [(i, 10 + i % 7) for i in range(60)],
                            "b": [(i + 100, 5) for i in range(40)]})
    budgets = {"a": 300, "b": 73}
    got = {(r["source"], r["doc_id"]) for r in token_budget_sample(
        docs, budgets, boundary_buckets=4).collect()}

    # naive oracle in python: order by (h32(id), id), greedy prefix
    hashed = docs.select(
        "source", "doc_id",
        F.size(F.split("text", " ")).alias("nt"),
        h32(F.col("doc_id").cast("string")).alias("h")).collect()
    want = set()
    for g, bud in budgets.items():
        run = 0
        for r in sorted([x for x in hashed if x["source"] == g],
                        key=lambda x: (x["h"], x["doc_id"])):
            if run < bud:
                want.add((g, r["doc_id"]))
            run += r["nt"]
    assert got == want and len(got) > 0


def test_token_budget_crossing_doc_kept(spark):
    from db_spark.llm.corpus import token_budget_sample

    docs = _tb_docs(spark, {"a": [(1, 50)]})
    # budget 1 token, first doc has 50: the crossing doc is kept
    out = token_budget_sample(docs, {"a": 1}).collect()
    assert [(r["source"], r["doc_id"], r["n_tokens"]) for r in out] \
        == [("a", 1, 50)]


def test_token_budget_unbudgeted_group_drops(spark):
    from db_spark.llm.corpus import token_budget_sample

    docs = _tb_docs(spark, {"a": [(1, 5)], "z": [(2, 5)]})
    out = token_budget_sample(docs, {"a": 10}).collect()
    assert {r["source"] for r in out} == {"a"}


def test_token_budget_full_group_survives(spark):
    from db_spark.llm.corpus import token_budget_sample

    docs = _tb_docs(spark, {"a": [(i, 10) for i in range(20)]})
    out = token_budget_sample(docs, {"a": 10_000}).collect()
    assert len(out) == 20 and sum(r["n_tokens"] for r in out) == 200


def test_keywords_tfidf_ranks_distinctive_terms(spark):
    from db_spark.llm.text import keywords_tfidf

    docs = spark.createDataFrame(
        [(1, "apple apple apple common common"),
         (2, "banana banana common common"),
         (3, "cherry common common")],
        "doc_id long, text string")
    out = keywords_tfidf(docs, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in out if r["rank"] == 1}
    # the unique-per-doc term outranks the shared one everywhere
    assert top == {1: "apple", 2: "banana", 3: "cherry"}
    # 'common' appears in all docs: idf = ln(1) = 0
    assert all(r["score"] == 0.0 for r in out if r["term"] == "common")


def test_keywords_tfidf_k_bound_and_tiebreak(spark):
    from db_spark.llm.text import keywords_tfidf

    docs = spark.createDataFrame(
        [(1, "zed alpha"), (2, "other words")], "doc_id long, text string")
    out = [(r["term"], r["rank"]) for r in
           keywords_tfidf(docs, k=5).collect() if r["doc_id"] == 1]
    # equal scores: term-asc tiebreak makes ranking deterministic
    assert sorted(out, key=lambda x: x[1]) == [("alpha", 1), ("zed", 2)]


def test_centroid_outliers_flags_planted_outlier(spark):
    from db_spark.llm.similarity import centroid_outliers
    from pyspark.sql import functions as F

    # group 0: 20 vectors near [1, 0, 0, 0] + one pointing at [0, 1, 0, 0]
    rows = [(i, [1.0, 0.01 * i, 0.0, 0.0], 0) for i in range(20)]
    rows.append((99, [0.0, 1.0, 0.0, 0.0], 0))
    rows += [(100 + i, [0.0, 0.0, 1.0, 0.0], 1) for i in range(5)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = centroid_outliers(df, k=3)
    top = {r["label"]: r["vec_id"] for r in out.collect() if r["rank"] == 1}
    assert top[0] == 99  # the planted orthogonal vector is rank 1
    # identical vectors in group 1: all distances equal, id tiebreak
    g1 = sorted((r["rank"], r["vec_id"]) for r in out.collect()
                if r["label"] == 1)
    assert g1 == [(1, 100), (2, 101), (3, 102)]
    assert all(r["dist"] >= 0.0 for r in out.collect())


def test_centroid_outliers_partition_invariant(spark):
    from db_spark.llm.similarity import centroid_outliers

    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0],
             i % 2) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    a = centroid_outliers(df.repartition(1), k=4).collect()
    b = centroid_outliers(df.repartition(16), k=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_weighted_sample_aes(spark):
    from db_spark.llm.corpus import weighted_sample
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, 100.0 if i < 10 else 1.0) for i in range(500)],
        "doc_id long, w double")
    out = weighted_sample(df, F.col("w"), 50)
    rows = out.collect()
    assert len(rows) == 50
    # keys are sorted descending in sample order, ids unique
    ids = [r["doc_id"] for r in rows]
    assert len(set(ids)) == 50
    # heavily-weighted rows (w=100 vs w=1, 10 of 500) should nearly all
    # be drawn into a 50-sample
    assert sum(1 for i in ids if i < 10) >= 8
    # partition-invariant determinism
    a = {r["doc_id"] for r in weighted_sample(
        df.repartition(1), F.col("w"), 50).collect()}
    b = {r["doc_id"] for r in weighted_sample(
        df.repartition(16), F.col("w"), 50).collect()}
    assert a == b == set(ids)
    # non-positive and NULL weights can never be sampled
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, None), (4, 1.0)], "doc_id long, w double")
    assert [r["doc_id"] for r in weighted_sample(
        df2, F.col("w"), 10).collect()] == [4]


def test_importance_sample_rate_extremes_and_determinism(spark):
    from db_spark.llm.corpus import importance_sample
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(300)], "doc_id long, w double")
    # rate 0 drops everything, rate >= 1 clamps to keep-all
    assert importance_sample(df, F.lit(0.0)).count() == 0
    assert importance_sample(df, F.lit(5.0)).count() == 300
    # NULL rate drops the row
    assert importance_sample(df, F.lit(None).cast("double")).count() == 0
    # per-row rates: kept set is partition-invariant
    a = {r["doc_id"] for r in importance_sample(
        df.repartition(1), F.col("w") / 2.0).collect()}
    b = {r["doc_id"] for r in importance_sample(
        df.repartition(16), F.col("w") / 2.0).collect()}
    assert a == b
    # w=0 rows can never be kept
    zero_ids = {i for i in range(300) if i % 3 == 0}
    assert not (a & zero_ids)
    # rough proportionality: w=2 rows kept ~2x as often as w=1 rows
    n1 = len([i for i in a if i % 3 == 1])
    n2 = len([i for i in a if i % 3 == 2])
    assert n2 > n1 > 0


def test_token_budget_null_text_counts_zero(spark):
    from db_spark.llm.corpus import token_budget_sample

    docs = spark.createDataFrame(
        [("a", 1, None), ("a", 2, "w w w")],
        "source string, doc_id long, text string")
    out = {(r["doc_id"], r["n_tokens"]) for r in
           token_budget_sample(docs, {"a": 100}).collect()}
    # NULL text costs 0 tokens and is kept under an open budget
    assert out == {(1, 0), (2, 3)}


def test_skipgram_counts_window_semantics(spark):
    from db_spark.llm.text import skipgram_counts

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], "doc_id long, text string")
    out = {(r["center"], r["context"]): r["n_cooc"]
           for r in skipgram_counts(docs, window=1, min_count=1).collect()}
    # window=1: adjacent pairs only, symmetric, counted across docs
    assert out[("a", "b")] == 2 and out[("b", "a")] == 2
    assert out[("b", "c")] == 1 and out[("c", "d")] == 1
    assert ("a", "c") not in out  # distance 2 > window
    assert ("a", "a") not in out  # no self pair at distance 0

    wide = {(r["center"], r["context"]): r["n_cooc"]
            for r in skipgram_counts(docs, window=2, min_count=1).collect()}
    assert wide[("a", "c")] == 1 and wide[("a", "b")] == 2
    assert ("a", "d") not in wide  # distance 3 > window

    # min_count trims the tail
    trimmed = {(r["center"], r["context"])
               for r in skipgram_counts(docs, window=2, min_count=2).collect()}
    assert trimmed == {("a", "b"), ("b", "a")}


def test_hashed_features_stable_and_bounded(spark):
    from db_spark.llm.text import hashed_features

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird")], "doc_id long, text string")
    out = hashed_features(docs, dim=64).collect()
    by_doc = {}
    for r in out:
        assert 0 <= r["idx"] < 64
        by_doc.setdefault(r["doc_id"], {})[r["idx"]] = r["n"]
    # counts sum to token counts
    assert sum(by_doc[1].values()) == 3 and sum(by_doc[2].values()) == 2
    # same token -> same index across documents (stable hashing)
    dog_idx = [i for i, n in by_doc[2].items()
               if i in by_doc[1]]
    assert dog_idx  # 'dog' hashes identically in both docs
    # deterministic across partitionings
    a = sorted(map(tuple, hashed_features(
        docs.repartition(1), dim=64).collect()))
    b = sorted(map(tuple, hashed_features(
        docs.repartition(8), dim=64).collect()))
    assert a == b


def _py_h32(s: str) -> int:
    """Independent reimplementation of dedup.h32 (md5-prefix hash)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_classifier_score_matches_hand_model(spark):
    """Score against a hand-built weight table, with the expected logit
    computed through an INDEPENDENT python md5 pipeline — unigram +
    bigram hashing, mean weight, bias, threshold keep flag."""
    from db_spark.llm.text import classifier_score

    dim, bias = 64, 500
    docs = spark.createDataFrame(
        [(1, "good clean prose here"), (2, "spam spam spam"), (3, "")],
        "doc_id long, text string")
    widx = {}
    for doc in ("good clean prose here", "spam spam spam"):
        toks = doc.split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for f in feats:
            widx[_py_h32(f) % dim] = None
    weights = [(i, (7 * i - 100) * 100) for i in sorted(widx)]
    wdf = spark.createDataFrame(weights, "idx int, w_ppm long")

    out = {r["doc_id"]: r for r in classifier_score(
        docs, wdf, dim=dim, bias_ppm=bias, threshold=0.0).collect()}
    wmap = dict(weights)
    for doc_id, text in ((1, "good clean prose here"), (2, "spam spam spam")):
        toks = text.split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        n = len(feats)
        sw = sum(wmap[_py_h32(f) % dim] for f in feats)
        expect = round((bias * n + sw) / (n * 1_000_000), 6)
        assert out[doc_id]["n_features"] == n
        assert out[doc_id]["score"] == expect
        assert out[doc_id]["keep"] == (expect >= 0.0)
    # empty document: zero features, NULL score, keep=false
    assert out[3]["n_features"] == 0
    assert out[3]["score"] is None and out[3]["keep"] is False


def test_classifier_score_unigram_only_and_missing_weights(spark):
    """ngrams=1 drops bigram features; buckets absent from the weight
    table contribute 0 (a sparse model is normal)."""
    from db_spark.llm.text import classifier_score

    docs = spark.createDataFrame(
        [(1, "alpha beta")], "doc_id long, text string")
    wdf = spark.createDataFrame(
        [(_py_h32("alpha") % 32, 2_000_000)], "idx int, w_ppm long")
    out = classifier_score(
        docs, wdf, dim=32, ngrams=1, threshold=0.5).collect()[0]
    # mean over 2 unigrams: (0 + 2e6)/2e6 = 1.0
    assert out["n_features"] == 2
    assert out["score"] == 1.0 and out["keep"] is True


def _py_ilog2_fp256(x: int) -> int:
    """Independent python replay of the engine's fixed-point log2:
    (bitlen-1)*256 + 8 square-and-compare fraction bits."""
    i = x.bit_length() - 1
    m = (x << (20 - i)) if i <= 20 else (x >> (i - 20))
    frac = 0
    for _ in range(8):
        m = m * m
        if m >= 1 << 41:
            frac, m = frac * 2 + 1, m >> 21
        else:
            frac, m = frac * 2, m >> 20
    return i * 256 + frac


def test_train_nb_classifier_matches_fixed_point_reference(spark):
    """Trained weights must equal the independent python replay of the
    documented arithmetic — per-class hashed-feature counts, Laplace
    alpha, fixed-point log2, ppm scaling with truncating division —
    and track the TRUE log2 odds within the 1/256-bit quantization."""
    import math

    from db_spark.llm.text import train_nb_classifier

    rows = [(i, "good clean useful prose text", True) for i in range(8)]
    rows += [(100 + i, "spam junk click buy now now", False)
             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "label boolean")
    dim = 128
    got = {r["idx"]: r for r in
           train_nb_classifier(df, dim=dim, ngrams=2).collect()}

    # independent python count of the same feature stream
    c1, c0 = {}, {}
    for _, text, lab in rows:
        toks = text.split()
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        for f in feats:
            (c1 if lab else c0)[_py_h32(f) % dim] = \
                (c1 if lab else c0).get(_py_h32(f) % dim, 0) + 1
    assert set(got) == set(c1) | set(c0)
    for idx, r in got.items():
        n1, n0 = c1.get(idx, 0), c0.get(idx, 0)
        assert (r["n1"], r["n0"]) == (n1, n0)
        wfp = _py_ilog2_fp256(n1 + 1) - _py_ilog2_fp256(n0 + 1)
        expect = (abs(wfp) * 15625 // 4) * (1 if wfp >= 0 else -1)
        assert r["w_ppm"] == expect
        # quantization bound: within 2/256 bit of the true log-odds
        true_ppm = math.log2((n1 + 1) / (n0 + 1)) * 1e6
        assert abs(true_ppm - r["w_ppm"]) <= 2 * 1e6 / 256 + 1


def test_train_nb_then_classifier_score_end_to_end(spark):
    """The DCLM loop closed in-engine: train on a labeled seed, feed
    the weights to classifier_score, and the scored corpus must
    reproduce the reference classification (class-separated vocab →
    perfect separation at threshold 0 with no bias)."""
    from db_spark.llm.text import classifier_score, train_nb_classifier

    rows = [(i, "informative well written article prose "
                + "quality text " * (i % 3), True) for i in range(30)]
    rows += [(30 + i, "click buy cheap pills now "
                      + "spam junk " * (i % 3), False) for i in range(30)]
    seed = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "label boolean")
    w = train_nb_classifier(seed, dim=512, ngrams=2)
    scored = {r["doc_id"]: r for r in classifier_score(
        seed.select("doc_id", "text"), w.select("idx", "w_ppm"),
        dim=512, bias_ppm=0, threshold=0.0).collect()}
    assert all(scored[i]["keep"] for i in range(30))
    assert not any(scored[30 + i]["keep"] for i in range(30))


def test_train_nb_classifier_alpha_and_unigram_modes(spark):
    """alpha scales the smoothing floor (alpha=3 shrinks |w| vs
    alpha=1 on the same counts); ngrams=1 trains on unigrams only."""
    from db_spark.llm.text import train_nb_classifier

    df = spark.createDataFrame(
        [(1, "alpha beta", True), (2, "gamma delta", False)],
        "doc_id long, text string, label boolean")
    w1 = {r["idx"]: r["w_ppm"] for r in
          train_nb_classifier(df, dim=64, ngrams=1).collect()}
    # unigram-only: 4 tokens hash to (up to) 4 buckets, no bigrams
    c1 = {_py_h32(t) % 64 for t in ("alpha", "beta")}
    c0 = {_py_h32(t) % 64 for t in ("gamma", "delta")}
    assert set(w1) == c1 | c0
    w3 = {r["idx"]: r["w_ppm"] for r in
          train_nb_classifier(df, dim=64, ngrams=1, alpha=3).collect()}
    assert all(abs(w3[i]) < abs(w1[i]) for i in w1)


def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """Appending new vectors to a persisted IVF index must yield probe
    results identical to rebuilding the whole index with the SAME
    centroids — assignment depends only on (vector, centroids), and
    append writes only the delta."""
    from db_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")

    idx = str(tmp_path / "ivf")
    similarity.ivf_index_build(old, idx, n_cells=8)
    n = similarity.ivf_index_append(spark, idx, new)
    assert n == new.count() and n > 0
    got = similarity.ivf_index_topk(spark, idx, queries, k=5, n_probe=3)

    # true one-shot rebuild over the FULL corpus: lowest-id seeding
    # picks vec_id 0..7 from `old` and from the full corpus alike, so
    # centroids are identical and append must match the rebuild exactly
    idx2 = str(tmp_path / "ivf2")
    similarity.ivf_index_build(emb, idx2, n_cells=8)
    expect = similarity.ivf_index_topk(spark, idx2, queries, k=5, n_probe=3)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, expect.collect()))
    # appended vectors are actually reachable: probe FOR a new vector
    probe_new = new.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    hits = similarity.ivf_index_topk(
        spark, idx, probe_new, k=1, n_probe=8).collect()
    assert hits and hits[0]["vec_id"] == hits[0]["query_id"]  # finds itself


def test_lsh_index_probe_finds_near_dups_incrementally(spark, tmp_path):
    """Daily-ingest dedup: new docs probe the persisted corpus index
    and surface their near-dup sources without re-signing the corpus."""
    from db_spark.llm.dedup import lsh_index_build, lsh_index_probe

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog number {i} "
             f"with plenty of shared shingle material in every document")
         for i in range(20)],
        "doc_id long, text string")
    idx = str(tmp_path / "lsh")
    lsh_index_build(corpus, idx, k=16, bands=4)

    new = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog number 3 "
               "with plenty of shared shingle material in every document"),
         (101, "completely unrelated text about astrophysics and "
               "spectral lines of distant quasars nothing shared here")],
        "doc_id long, text string")
    got = lsh_index_probe(spark, idx, new).collect()
    hits = {(r["new_id"], r["corpus_id"]) for r in got}
    assert (100, 3) in hits          # exact copy of doc 3 found
    assert all(n != 101 for n, _ in hits)  # unrelated doc matches nothing


def test_lsh_index_probe_matches_inflight_pairs(spark, tmp_path):
    """Probing the corpus against its own index must reproduce the
    in-flight lsh_candidate_pairs (as ordered pairs, both directions)."""
    from db_spark.llm.dedup import (lsh_candidate_pairs, lsh_index_build,
                                    lsh_index_probe, minhash_signature)

    docs = spark.createDataFrame(
        [(i, f"some shared text payload variant {i % 5} repeated words "
             f"for shingles across the corpus body {i % 3}")
         for i in range(30)],
        "doc_id long, text string")
    idx = str(tmp_path / "lsh")
    lsh_index_build(docs, idx, k=16, bands=4)
    probed = {(r["new_id"], r["corpus_id"]) for r in
              lsh_index_probe(spark, idx, docs).collect()}
    sig = minhash_signature(docs)
    pairs = {(r["id_a"], r["id_b"]) for r in
             lsh_candidate_pairs(sig).collect()}
    assert probed == pairs | {(b, a) for a, b in pairs}


def test_normalize_text_rules(spark):
    messy = ("“Hi’ there” — a…\r\n\r\n\r\n\r\n"
             "new  para​!\ttail  end\x07  x")
    df = spark.createDataFrame([(1, messy), (2, None), (3, "clean text")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["t"] for r in df.select(
        "doc_id", text.normalize_text(F.col("text")).alias("t")).collect()}
    assert got[1] == '"Hi\' there" - a...\n\nnew para! tail end x'
    assert got[2] is None           # NULL passes through
    assert got[3] == "clean text"   # clean input is a fixpoint
    # idempotence: normalizing twice equals once
    df2 = df.select("doc_id", text.normalize_text(
        text.normalize_text(F.col("text"))).alias("t"))
    assert {r["doc_id"]: r["t"] for r in df2.collect()} == got


def test_curate_pipeline_stages(spark):
    from db_spark.llm import pipeline

    good = ("the quick brown fox jumps over the lazy dog and it runs to "
            "the old barn for a nap in the hay that is warm")
    evtext = ("a solver for the benchmark question about prime numbers "
              "is that seven and eleven are the answers we keep")
    rows = [
        (1, good + " first copy"),
        (2, good + " first copy duplicated"),     # near-dup of 1
        (3, "x! y? z!!"),                          # fails the quality gate
        (4, good + " clean and unique text here"),
        (97, evtext),                              # eval member
        # shares a 6-gram with the eval text only — contaminated
        (5, "it is known that seven and eleven are the answers to this "
            "and the story goes on for a while in the same way as it did"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_df = docs.filter(F.col("doc_id") == 97)
    out = pipeline.curate(
        docs, quality_min=0.5, eval_df=eval_df, decontam_n=6,
        dedup_threshold=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    # 3 fails quality; 97 is eval; 5 shares a 6-gram with eval; 2 is a
    # near-dup of 1 with equal quality -> min id 1 survives
    assert 3 not in ids and 97 not in ids and 5 not in ids
    assert 1 in ids and 4 in ids and 2 not in ids
    # quality column present and gated
    assert all(r["quality_ppm"] >= 500000 for r in out.collect())
    # dedup can be skipped
    out2 = pipeline.curate(
        docs, quality_min=0.5, eval_df=eval_df, decontam_n=6,
        dedup_threshold=None)
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 2, 4]


def test_stratified_fixed_sample_exact_sizes(spark):
    from db_spark.llm.corpus import stratified_fixed_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_fixed_sample(df, {"en": 10, "de": 100})
    got = {}
    for r in out.collect():
        got.setdefault(r["lang"], []).append(r["doc_id"])
    assert len(got["en"]) == 10                 # exact
    assert len(got["de"]) == 30                 # whole (smaller) stratum
    # deterministic + stable under growth: adding docs never evicts an
    # earlier hash-order pick
    df2 = df.unionByName(spark.createDataFrame(
        [(1000 + i, "en") for i in range(50)], "doc_id long, lang string"))
    got2 = {r["doc_id"] for r in stratified_fixed_sample(
        df2, {"en": 60, "de": 100}).filter(F.col("lang") == "en").collect()}
    assert set(got["en"]) <= got2


def test_k_center_greedy_farthest_point_traversal(spark):
    from db_spark.llm import similarity

    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.01]),
            (3, [0.0, 1.0]), (4, [-1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.k_center_greedy(df, k=4).collect()
    # seed min-id 1; then the antipode, the orthogonal, the near-dup
    assert [(r["sel_rank"], r["vec_id"]) for r in out] == [
        (1, 1), (2, 4), (3, 3), (4, 2)]
    assert out[0]["min_dist"] is None
    assert out[1]["min_dist"] == 2.0 and out[2]["min_dist"] == 1.0
    assert out[3]["min_dist"] < 0.001  # the near-dup is picked last


def test_k_center_greedy_deterministic_across_partitionings(spark):
    from db_spark.llm import similarity

    rows = [(i, [float((i * 3) % 7), float((i * 5) % 11), 1.0])
            for i in range(20)]
    a = similarity.k_center_greedy(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartition(1), k=5)
    b = similarity.k_center_greedy(
        spark.createDataFrame(rows[::-1], "vec_id long, embedding array<double>")
        .repartition(16), k=5)
    assert a.collect() == b.collect()


@pytest.mark.full
def test_k_center_batched_equals_m1(spark):
    from db_spark.llm import similarity

    # 40 vectors with deliberate near-ties (rounded cosine collisions)
    rows = [(i, [float((i * 3) % 7), float((i * 5) % 11),
                 float((i * 7) % 13), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = similarity.k_center_greedy(df, k=12).collect()
    for m in (2, 4, 8, 64):
        got = similarity.k_center_greedy(df, k=12, batch_m=m).collect()
        assert got == base, f"batch_m={m} diverged from m=1"
    # antipodal toy corpus: exact same traversal too
    toy = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0]),
         (4, [-1.0, 0.0])], "vec_id long, embedding array<double>")
    assert (similarity.k_center_greedy(toy, k=4, batch_m=3).collect()
            == similarity.k_center_greedy(toy, k=4).collect())
    # duplicate-saturated corpus (10 exact copies of 6 distinct
    # vectors): the frontier twin-dedup must not change the traversal,
    # including the degenerate tail where k exceeds the distinct count
    # and copies get picked at min_dist 0 in id order
    dup = spark.createDataFrame(
        [(c * 100 + i, [float((c * 3) % 7), float((c * 5) % 11), 1.0])
         for c in range(6) for i in range(10)],
        "vec_id long, embedding array<double>")
    base_d = similarity.k_center_greedy(dup, k=15).collect()
    for m in (4, 16):
        got_d = similarity.k_center_greedy(dup, k=15, batch_m=m).collect()
        assert got_d == base_d, f"dup corpus: batch_m={m} diverged"


@pytest.mark.full
def test_k_center_batched_compresses_job_chain(spark):
    from db_spark.llm import similarity

    rows = [(i, [float((i * 3) % 17), float((i * 5) % 19),
                 float((i * 11) % 23), 1.0]) for i in range(300)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(8)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count_jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group))

    n1 = count_jobs("kc_m1", lambda: similarity.k_center_greedy(
        df, k=100).collect())
    n16 = count_jobs("kc_m16", lambda: similarity.k_center_greedy(
        df, k=100, batch_m=16).collect())
    # the scale claim: >=5x fewer Spark jobs for the same exact answer
    # (measured 304 vs 40 = 7.6x on this corpus)
    assert n16 * 5 <= n1, (n1, n16)


def test_rrf_fuse_combines_rankings(spark):
    from db_spark.llm.corpus import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    b = spark.createDataFrame(
        [(3, 1), (1, 2), (4, 3)], "doc_id long, rank long")
    got = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60).collect()}
    # doc 1: 1/61 + 1/62; doc 3: 1/63 + 1/61 — doc 1 wins
    assert got[1]["fused_rank"] == 1 and got[3]["fused_rank"] == 2
    assert got[1]["n_lists"] == 2 and got[2]["n_lists"] == 1
    assert got[1]["rrf_score"] == round(
        (round(1e9 / 61) + round(1e9 / 62)) / 1e9, 6)
    # singles rank below doubles here (1/62 < 1/61 + anything)
    assert got[2]["fused_rank"] > got[3]["fused_rank"]


def test_rrf_fuse_tie_breaks_by_id_and_respects_top_k(spark):
    from db_spark.llm.corpus import rrf_fuse

    a = spark.createDataFrame([(7, 1), (5, 1)], "doc_id long, rank long")
    # both docs rank 1 in their only list: identical score, id breaks
    out = rrf_fuse([a.filter("doc_id = 7"), a.filter("doc_id = 5")],
                   k=60, top_k=1).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 5


def test_k_center_greedy_clamps_k_and_handles_empty(spark):
    from db_spark.llm import similarity

    small = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = similarity.k_center_greedy(small, k=10).collect()
    assert [r["vec_id"] for r in out] == [1, 2]  # clamped to |corpus|
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.k_center_greedy(empty, k=3).count() == 0


def test_rbo_hand_computed_and_order_sensitivity(spark):
    from db_spark.llm import similarity

    # q1: A=[x,y] B=[x,z] -> rbo .5*(1 + .25) with only x common = .625
    # q2: identical [x,y] -> .5*(1.25 + .25) = .75 (truncated max)
    # q3: same SET, reversed order -> x:m=2 W=.25, y:m=2 W=.25 -> .25
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 10, 1), (2, 11, 2),
         (3, 10, 1), (3, 11, 2)],
        "query_id long, vec_id long, rank long")
    b = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2), (2, 10, 1), (2, 11, 2),
         (3, 11, 1), (3, 10, 2)],
        "query_id long, vec_id long, rank long")
    got = {r["query_id"]: r for r in
           similarity.rbo(a, b, k=2, p=0.5).collect()}
    assert got[1]["rbo"] == 0.625 and got[1]["n_common"] == 1
    assert got[2]["rbo"] == 0.75
    assert got[3]["rbo"] == 0.25   # recall@2 would call q2 and q3 equal


def test_rbo_zero_overlap_query_kept(spark):
    from db_spark.llm import similarity

    a = spark.createDataFrame([(1, 10, 1)], "query_id long, vec_id long, rank long")
    b = spark.createDataFrame([(1, 99, 1)], "query_id long, vec_id long, rank long")
    r = similarity.rbo(a, b, k=1).collect()[0]
    assert r["rbo"] == 0.0 and r["n_common"] == 0


def test_dbscan_core_border_noise_roles(spark):
    import math

    from db_spark.llm import similarity

    def vec(deg):
        a = math.radians(deg)
        return [math.cos(a), math.sin(a)] + [0.0] * 62

    rows = [
        (1, vec(0)), (2, vec(1)), (3, vec(2)),      # tight triad: core
        (10, vec(60)), (11, vec(80)), (12, vec(100)),  # chain: 11 core,
                                                       # 10/12 border
        (20, vec(170)),                                # isolated: noise
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in similarity.dbscan(
        df, threshold=0.9, min_pts=2, dim=64, max_hamming=15).collect()}
    assert {got[i]["role"] for i in (1, 2, 3)} == {"core"}
    assert len({got[i]["cluster_id"] for i in (1, 2, 3)}) == 1
    assert got[11]["role"] == "core"
    assert got[10]["role"] == "border" and got[12]["role"] == "border"
    assert got[10]["cluster_id"] == got[11]["cluster_id"]
    assert got[20]["role"] == "noise" and got[20]["cluster_id"] is None
    # the two density regions are distinct clusters
    assert got[1]["cluster_id"] != got[11]["cluster_id"]


def test_bootstrap_counts_distribution_and_determinism(spark):
    from db_spark.llm.corpus import bootstrap_counts, poisson_cdf_u32

    # CDF constant: P(0) = e^-1 exactly in 2^32 units
    assert poisson_cdf_u32(1.0)[0] == 1580030169
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = bootstrap_counts(df, rate=1.0)
    rows = out.collect()
    kept = len(rows)
    # kept fraction -> 1 - e^-1 = 63.2%; unbiased uniform allows a
    # tighter band than the old %1e9 version (which depressed P(kept)
    # to 0.589 via modulo bias)
    assert 0.60 < kept / 2000 < 0.67
    assert all(r["n_copies"] >= 1 for r in rows)
    total = sum(r["n_copies"] for r in rows)
    assert 0.9 < total / 2000 < 1.1   # E[total] = n * rate
    # partition-invariant: identical draws on any layout
    again = bootstrap_counts(df.repartition(16), rate=1.0).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_leakage_safe_split_keeps_clusters_together(spark):
    from db_spark.llm.corpus import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    # clusters: {0,1,2} -> 0, {10,11} -> 10; everything else singleton
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10)],
        "doc_id long, cluster_id long")
    out = leakage_safe_split(docs, clusters).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 200
    # cluster members share group AND split
    assert {by_id[i]["group_id"] for i in (0, 1, 2)} == {0}
    assert len({by_id[i]["split"] for i in (0, 1, 2)}) == 1
    assert {by_id[i]["group_id"] for i in (10, 11)} == {10}
    assert len({by_id[i]["split"] for i in (10, 11)}) == 1
    # singletons group on their own id
    assert by_id[50]["group_id"] == 50
    # ppm thresholds roughly respected on the singleton mass
    frac_train = sum(1 for r in out if r["split"] == "train") / 200
    assert 0.7 < frac_train < 0.9
    # partition-invariant
    again = leakage_safe_split(docs.repartition(16), clusters).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_global_shuffle_shards_is_deterministic_permutation(spark):
    from db_spark.llm.corpus import global_shuffle_shards

    docs = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = global_shuffle_shards(docs, n_shards=4).collect()
    assert len(out) == 1000
    # positions are a 1..n_s permutation inside every shard
    from collections import defaultdict
    per = defaultdict(list)
    for r in out:
        per[r["shard"]].append(r["pos"])
    assert set(per) == {0, 1, 2, 3}
    for shard, ps in per.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # rough balance (hash-uniform): no shard under half the fair share
    assert min(len(p) for p in per.values()) > 125
    # reproducible under repartitioning; salt changes reshuffle
    again = global_shuffle_shards(docs.repartition(16), n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = global_shuffle_shards(docs, n_shards=4, salt="epoch2").collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))
    # with_position=False: same shard assignment, no window in the plan
    wp = global_shuffle_shards(docs, n_shards=4, with_position=False)
    assert "Window" not in wp._jdf.queryExecution().executedPlan().toString()
    assert sorted((r["doc_id"], r["shard"]) for r in wp.collect()) == \
        sorted((r["doc_id"], r["shard"]) for r in out)


# ---------------------------------------------------------------------------
# Winnowing fingerprints + semantic dedup (r9)
# ---------------------------------------------------------------------------

def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee (Schleimer et al. SIGMOD'03): any shared
    token run of length >= k + w - 1 (= 7 here) forces at least one
    shared fingerprint, regardless of the surrounding text."""
    shared = "alpha bravo charlie delta echo foxtrot golf"  # 7 tokens
    rows = [
        (1, f"intro words here {shared} and a tail"),
        (2, f"{shared} totally different continuation text now"),
        (3, "unrelated vocabulary without any overlap whatsoever "
            "kiwi lemon mango nectarine orange papaya quince"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dedup.winnow_fingerprints(df, k=4, w=4, output="fps")
    sets = {
        r["doc_id"]: set()
        for r in fp.select("doc_id").distinct().collect()
    }
    for r in fp.collect():
        sets[r["doc_id"]].add(r["fingerprint"])
    assert sets[1] & sets[2], "shared 7-token run must share a fingerprint"
    assert not (sets[1] & sets[3])
    assert not (sets[2] & sets[3])


def test_winnow_stats_bounds_and_short_doc_contract(spark):
    rows = [
        (1, "one two three four five six seven eight nine ten"),
        (2, "too short"),           # 2 tokens < k: no grams
        (3, "just four tokens here"),  # 1 gram < w windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.winnow_fingerprints(df, k=4, w=4).collect()}
    assert set(out) == {1}  # docs without a full window emit no row
    r = out[1]
    assert r["n_grams"] == 7 and r["n_windows"] == 4
    assert 1 <= r["n_fingerprints"] <= r["n_windows"]
    assert abs(r["density"] - r["n_fingerprints"] / r["n_windows"]) < 1e-9


def test_winnow_overlap_exact_dup_containment(spark):
    txt = ("the quick brown fox jumps over the lazy dog while the "
           "cat watches from the warm windowsill nearby")
    rows = [(1, txt), (2, txt),
            (3, "entirely distinct words compose this third document "
                "zebra yak xerus wombat vulture urial tapir")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r for r in
           dedup.winnow_overlap(df, k=4, w=4, min_shared=2).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)]["containment"] == 1.0


def test_winnow_stats_expand_duplicate_groups(spark):
    """Stats mode on a duplicate-saturated corpus equals a Python
    reference over the per-document fingerprint sets: 3 copies of A and
    2 of B, which share a run. Member ids order opposite to their
    reps' (A = {1, 5, 6}, B = {2, 3}), so cross pairs must re-order."""
    shared = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliet kilo lima")
    a_txt = "zebra yak xray wombat " + shared + " vole urchin"
    b_txt = shared + " tiger snake raven quail parrot otter"
    df = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, b_txt), (5, a_txt), (6, a_txt)],
        "doc_id long, text string")
    fps = {}
    for r in dedup.winnow_fingerprints(df, k=4, w=4, output="fps").collect():
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    want = {}
    for x in fps:
        for y in fps:
            shared_fps = len(fps[x] & fps[y])
            if x < y and shared_fps >= 2:
                want[(x, y)] = (shared_fps, round(
                    shared_fps / min(len(fps[x]), len(fps[y])), 6))
    got = {(r.id_a, r.id_b): (r.shared_fps, r.containment)
           for r in dedup.winnow_overlap(
               df, k=4, w=4, min_shared=2, max_fp_df=None).collect()}
    assert got == want
    assert len(got) == 10  # 3 + 1 within pairs, 6 cross pairs
    assert got[(1, 5)][1] == 1.0 and got[(2, 5)][1] < 1.0


def test_winnow_hot_fingerprint_cap(spark):
    """A fingerprint present in every doc must not create quadratic
    pairs once it exceeds max_fp_df — mirroring the shingle-df guard."""
    common = "alpha bravo charlie delta echo foxtrot golf"
    rows = [(i, f"{common} unique{i} u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g")
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.winnow_overlap(df, k=4, w=4, min_shared=1, max_fp_df=10)
    assert capped.count() == 0
    raw = dedup.winnow_overlap(df, k=4, w=4, min_shared=1, max_fp_df=None)
    assert raw.count() == 12 * 11 // 2


def test_winnow_spans_aligns_shared_passage(spark):
    """spans mode localizes the overlap: a 12-token run shared at
    different offsets (doc2 carries a 4-token prefix) must come back as
    ONE aligned passage on the offset diagonal, inside the shared
    region in both docs. Windows fully inside the run are identical in
    both docs, so their minima are selected in both (anchors) and
    consecutive anchors sit within the k+w-1 guarantee gap — one
    island."""
    shared = ("alpha bravo charlie delta echo foxtrot golf hotel "
              "india juliet kilo lima")
    rows = [(1, shared),
            (2, "zebra yak xray wombat " + shared),
            (3, "totally different third text about nothing shared "
                "aardvark bison cougar dingo elk ferret")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.winnow_overlap(
        df, k=4, w=4, min_shared=1, output="spans").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["b_start"] - r["a_start"] == 4      # the offset diagonal
    assert r["b_end"] - r["a_end"] == 4
    assert 1 <= r["a_start"] <= r["a_end"] <= 12  # inside the run (doc1)
    assert 5 <= r["b_start"] <= r["b_end"] <= 16  # inside the run (doc2)
    assert r["a_end"] - r["a_start"] >= 3         # at least one full gram
    assert r["n_anchors"] >= 1


def test_winnow_spans_separates_distant_runs(spark):
    """Two shared runs separated by more than merge_gap unique tokens
    must NOT merge into one passage even on the same diagonal."""
    run_a = "alpha bravo charlie delta echo foxtrot golf"          # 7 toks
    run_b = "november oscar papa quebec romeo sierra tango"        # 7 toks
    mid1 = "one two three four five six seven eight nine ten"      # 10 toks
    mid2 = "uno dos tres cuatro cinco seis siete ocho nueve diez"  # 10 toks
    df = spark.createDataFrame(
        [(1, f"{run_a} {mid1} {run_b}"), (2, f"{run_a} {mid2} {run_b}")],
        "doc_id long, text string")
    out = dedup.winnow_overlap(
        df, k=4, w=4, min_shared=1, output="spans").collect()
    # both runs sit at the same positions in both docs (diagonal 0) but
    # the differing middles keep them > merge_gap apart -> two passages
    assert len(out) == 2
    spans = sorted((r["a_start"], r["a_end"]) for r in out)
    assert spans[0][1] <= 7          # first passage inside run_a
    assert spans[1][0] >= 18         # second inside run_b (starts tok 18)
    for r in out:
        assert r["b_start"] == r["a_start"] and r["b_end"] == r["a_end"]


def test_winnow_spans_char_offsets_cut_matching_text(spark):
    """The r11 char columns must be REAL offsets into the ORIGINAL
    text: slicing [char_start-1:char_end] out of each document yields
    case-insensitively identical passages (the aligned run), across
    messy punctuation, uppercase, and multi-space separators that make
    token and char positions diverge."""
    shared = "The Quick brown FOX jumps over the lazy dog again and again"
    texts = {
        1: "AAA!! weird   prefix,, (x) " + shared + " ... trailing!!",
        2: "completely different opening -- words here; then: " + shared,
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string")
    out = dedup.winnow_overlap(
        df, k=4, w=4, min_shared=1, output="spans").collect()
    assert len(out) >= 1
    for r in out:
        a = texts[r["id_a"]][r["a_char_start"] - 1:r["a_char_end"]]
        b = texts[r["id_b"]][r["b_char_start"] - 1:r["b_char_end"]]
        # the cut starts and ends exactly on token characters
        assert a[0].isalpha() or a[0] == "'"
        assert a[-1].isalpha() or a[-1] == "'"
        assert a.lower() == b.lower()
        assert "quick" in a.lower()


def test_winnow_spans_duplicate_texts_expand_exactly(spark):
    """r12 identical-text grouping: duplicated texts must yield the
    same spans as their originals — within-group pairs get the self
    span set, and cross pairs whose member ids order OPPOSITE to
    their reps' get the a/b column groups swapped. Char slices must
    stay real offsets into each side's own text for every row."""
    t_a = ("alpha bravo charlie delta echo foxtrot golf hotel india "
           "juliet kilo lima")
    t_b = ("zebra yak xray wombat alpha bravo charlie delta echo "
           "foxtrot golf hotel india juliet kilo lima")
    texts = {1: t_a, 2: t_b, 3: t_b, 4: t_a}   # 3 dups 2, 4 dups 1
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    out = dedup.winnow_overlap(
        df, k=4, w=4, min_shared=1, output="spans").collect()
    by_pair: dict = {}
    for r in out:
        by_pair.setdefault((r["id_a"], r["id_b"]), []).append(r)
        a = texts[r["id_a"]][r["a_char_start"] - 1:r["a_char_end"]]
        b = texts[r["id_b"]][r["b_char_start"] - 1:r["b_char_end"]]
        assert a.lower() == b.lower()
    # every T_a x T_b combination must carry the same passage; (2, 4)
    # is the swap case (id_a holds T_b, the rep pair computed T_a as
    # the a-side)
    assert {(1, 2), (1, 3), (2, 4), (3, 4)} <= set(by_pair)
    base = {(r["a_start"], r["a_end"], r["b_start"], r["b_end"])
            for r in by_pair[(1, 2)]}
    assert base == {(r["a_start"], r["a_end"], r["b_start"], r["b_end"])
                    for r in by_pair[(1, 3)]}
    swapped = {(r["b_start"], r["b_end"], r["a_start"], r["a_end"])
               for r in by_pair[(2, 4)]}
    assert base == swapped
    # within-group pairs (identical texts) self-align on diagonal 0
    for pair in ((1, 4), (2, 3)):
        assert pair in by_pair
        assert any(r["a_start"] == r["b_start"]
                   and r["a_end"] == r["b_end"] for r in by_pair[pair])


def test_remove_char_spans_edge_cases(spark):
    """Interval merge (overlap AND adjacency), clipping past the text
    end, full-document coverage -> empty string, and untouched
    pass-through — the documented remove_char_spans contract."""
    docs = spark.createDataFrame([
        (1, "abcdefghij"), (2, "0123456789"), (3, "untouched"), (4, "xyz"),
    ], "doc_id long, text string")
    spans = spark.createDataFrame([
        (1, 2, 4), (1, 4, 6),    # overlap -> merge to 2-6
        (1, 9, 15),              # clipped to 9-10
        (2, 1, 10),              # full coverage
        (4, 1, 1), (4, 2, 2),    # adjacent -> merge to 1-2
    ], "id long, char_start long, char_end long")
    out = {r["doc_id"]: r for r in
           dedup.remove_char_spans(docs, spans).collect()}
    assert (out[1]["text"], out[1]["n_spans_cut"],
            out[1]["chars_removed"]) == ("agh", 2, 7)
    assert (out[2]["text"], out[2]["chars_removed"]) == ("", 10)
    assert (out[3]["text"], out[3]["n_spans_cut"]) == ("untouched", 0)
    assert (out[4]["text"], out[4]["n_spans_cut"],
            out[4]["chars_removed"]) == ("z", 1, 2)


def test_winnow_spans_feed_remove_char_spans_end_to_end(spark):
    """The full span-dedup loop: detect the shared passage, cut it out
    of the higher-id document, leave the lower-id copy intact."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    texts = {1: "first doc intro. " + shared,
             2: "second doc, other words first: " + shared + " outro!"}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    spans = dedup.winnow_overlap(df, k=4, w=4, min_shared=1,
                                 output="spans")
    cut = spans.select(F.col("id_b").alias("id"),
                       F.col("b_char_start").alias("char_start"),
                       F.col("b_char_end").alias("char_end"))
    out = {r["doc_id"]: r for r in
           dedup.remove_char_spans(df, cut).collect()}
    assert out[1]["text"] == texts[1]            # low id untouched
    assert out[2]["n_spans_cut"] >= 1
    assert "quick brown fox" not in out[2]["text"]
    assert out[2]["text"].startswith("second doc, other words first: ")
    assert out[2]["text"].endswith("outro!")


def test_semantic_dedup_prunes_within_cluster(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.999, 0.02, 0.0]),   # near-dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),      # unique direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(
        df, n_cells=3, threshold=0.98, refine_iters=1).collect()}
    assert len(out) == 5
    assert out[0]["kept"] and not out[1]["kept"]   # lowest id survives
    assert out[2]["kept"] and not out[3]["kept"]
    assert out[4]["kept"]


def test_semantic_dedup_autoscales_cells_with_corpus(spark):
    """target_cell_size makes the 100 TB invariant self-enforcing: a 10x
    corpus at the same args gets ~10x the cells, keeping per-cell pair
    work O(target^2) per cell instead of O((n/n_cells)^2) — the r9
    VERDICT's design note. Construction: ids 0..9 are unit vectors
    spread across the quadrant (they become the lowest-id seeds), each
    followed by 7 jittered neighbours, so nearest-seed assignment fills
    all 10 cells deterministically."""
    import math

    rows = []
    for i in range(80):
        ang = (i % 10) / 10.0 * (math.pi / 2) + (i // 10) * 0.003
        rows.append((i, [math.cos(ang), math.sin(ang)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    auto = similarity.semantic_dedup(
        df, n_cells=2, threshold=0.99999, refine_iters=0,
        target_cell_size=8).collect()
    cells = {r["cell_id"] for r in auto}
    # ceil(80/8) = 10 cells raised from the explicit 2; every seed
    # captures its neighbourhood so all 10 are non-empty
    assert len(cells) == 10
    sizes = {}
    for r in auto:
        sizes[r["cell_id"]] = sizes.get(r["cell_id"], 0) + 1
    assert max(sizes.values()) <= 2 * 8  # per-cell work stays bounded

    pinned = similarity.semantic_dedup(
        df, n_cells=2, threshold=0.99999, refine_iters=0,
        target_cell_size=None).collect()
    assert len({r["cell_id"] for r in pinned}) <= 2  # None pins exactly


def test_semantic_dedup_only_compares_within_cells(spark):
    """Two near-identical vectors assigned to different cells are both
    kept — the SemDeDup contract (pairwise work never crosses a cell)."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.7071, 0.7072]),  # ~45 deg: nearest cell is id 1's
        (3, [0.7072, 0.7071]),  # ~45 deg: nearest cell is id 0's
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(
        df, n_cells=2, threshold=0.9999, refine_iters=0).collect()}
    # 2 and 3 are cosine ~1.0 to each other but sit in different cells;
    # assert the precondition explicitly (r9 ADVICE: guarded by an `if`,
    # the test passed vacuously if a centroid change merged the cells)
    assert out[2]["cell_id"] != out[3]["cell_id"], \
        "fixture regression: vectors 2 and 3 must land in different cells"
    assert out[2]["kept"] and out[3]["kept"]


def test_semantic_dedup_kernel_matches_expression_on_dirty_vectors(spark):
    """r12: the within-cell verify moved to the per-cell GEMM kernel
    (`_srp_verify_kernel`) for integral ids + positive thresholds. Pin
    exact output equality between the kernel path (long ids) and the
    expression path's per-pair fold on a dirty fixture — NULL vector,
    zero vector, length-mismatched vector, exact duplicates — where
    the two paths' NULL/zero shortcuts must still agree."""
    from pyspark.sql import functions as F

    from db_spark.llm.similarity import (
        _assign_to, _cos_guarded, _dbl, _dot_d, _norm_d,
        ivf_kmeans_centroids)

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),       # exact duplicate of 0
        (2, [0.999, 0.01, 0.0, 0.0]),    # near-dup of 0
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, None),                       # NULL vector
        (5, [0.0, 0.0, 0.0, 0.0]),       # zero vector (guarded cos 0)
        (6, [1.0, 0.0]),                 # length mismatch
        (7, [0.0, 0.998, 0.05, 0.0]),    # near-dup of 3
        (8, [1.0, None, 0.0, 0.0]),      # NULL element (NaN in pandas)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fast = similarity.semantic_dedup(
        df, n_cells=2, threshold=0.95, refine_iters=1)

    # the pre-r12 expression path, inlined on the same inputs
    cent = ivf_kmeans_centroids(df, n_cells=2, n_iter=1,
                                id_col="vec_id", vec_col="embedding")
    assigned = _assign_to(df, cent, "vec_id", "embedding")
    v = assigned.select(
        F.col("vec_id"), F.col("cell_id"),
        _dbl(F.col("embedding")).alias("_v"))
    v = v.select("vec_id", "cell_id", "_v", _norm_d(F.col("_v")).alias("_nn"))
    a = v.select(F.col("vec_id").alias("_ida"), "cell_id",
                 F.col("_v").alias("_va"), F.col("_nn").alias("_na"))
    b = v.select(F.col("vec_id").alias("_idb"), "cell_id",
                 F.col("_v").alias("_vb"), F.col("_nn").alias("_nb"))
    removed = (
        a.join(b, "cell_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(F.round(_cos_guarded(
            _dot_d(F.col("_va"), F.col("_vb")),
            F.col("_na") * F.col("_nb")), 6) >= F.lit(0.95))
        .select(F.col("_idb").alias("vec_id")).distinct()
        .withColumn("_kept", F.lit(False)))
    slow = (
        v.join(removed, "vec_id", "left")
        .select(F.col("vec_id"), F.col("cell_id"),
                F.coalesce(F.col("_kept"), F.lit(True)).alias("kept")))

    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    out = {r["vec_id"]: r for r in fast.collect()}
    assert out[0]["kept"] and not out[1]["kept"]  # exact dup pruned
    assert out[4]["kept"] and out[5]["kept"]      # NULL/zero never match
    assert out[8]["kept"]                         # nor a NULL element


def test_embedding_near_dup_kernel_matches_expression_on_dirty(spark):
    """The near-dup verify runs the shared GEMM kernel for integral
    ids + positive thresholds. Pin exact output equality between the
    kernel path (long ids) and the expression path's SRP-blocked
    per-pair fold, inlined, on a dirty fixture — NULL vector, zero
    vector, length-mismatched vector, NaN components, NULL elements
    (which pandas hands the kernel as NaN), exact duplicates (the
    kernel path's identical-vector grouping)."""
    from db_spark.llm.similarity import (
        _cos_guarded, _dbl, _dot_d, _norm_d, _seg_keys, srp_signature)

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),       # exact duplicate of 0
        (2, [0.999, 0.01, 0.0, 0.0]),    # near-dup of 0
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, None),                       # NULL vector
        (5, [0.0, 0.0, 0.0, 0.0]),       # zero vector (guarded cos 0)
        (6, [1.0, 0.0]),                 # length mismatch
        (7, [0.0, 0.998, 0.05, 0.0]),    # near-dup of 3
        (8, [float("nan"), 1.0, 0.0, 0.0]),  # NaN component
        (9, [float("nan"), 1.0, 0.0, 0.0]),  # exact duplicate of 8
        (10, [0.0, 1.0, float("nan"), 0.0]),  # NaN elsewhere
        (11, [1.0, None, 0.0, 0.0]),     # NULL element (NaN in pandas)
        (12, [0.0, None, 1.0, 0.0]),     # NULL element, bucketed with 5
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fast = similarity.embedding_near_dup_pairs(df, dim=4, threshold=0.95)

    # the expression path, inlined on the same inputs (16 bits, 4 segments)
    v = df.select("vec_id", _dbl(F.col("embedding")).alias("_v"),
                  srp_signature(F.col("embedding"), 4, 16).alias("_sig"))
    v = v.select("vec_id", "_v", _norm_d(F.col("_v")).alias("_n"),
                 _seg_keys(F.col("_sig"), 4, 4)) \
        .select("vec_id", "_v", "_n", "seg.seg_id", "seg.seg_key")
    a = v.select(F.col("vec_id").alias("id_a"), F.col("_v").alias("_va"),
                 F.col("_n").alias("_na"), "seg_id", "seg_key")
    b = v.select(F.col("vec_id").alias("id_b"), F.col("_v").alias("_vb"),
                 F.col("_n").alias("_nb"), "seg_id", "seg_key")
    slow = (
        a.join(b, ["seg_id", "seg_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(_cos_guarded(
            _dot_d(F.col("_va"), F.col("_vb")),
            F.col("_na") * F.col("_nb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.95)
        .distinct())

    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    got = {(r["id_a"], r["id_b"]) for r in fast.collect()}
    assert {(0, 1), (0, 2), (1, 2), (3, 7)} <= got
    # NaN cosines pass (NaN-largest) on both paths
    assert {(8, 9), (8, 10), (9, 10)} <= got
    assert not {4, 5, 6, 11, 12} & {i for p in got for i in p}  # never match


def test_pca_project_matches_numpy_eigendecomposition(spark):
    """The integer power iteration must land on numpy's dominant
    eigenvector (|corr| ~ 1 of the projections — sign is pinned by our
    largest-|coordinate| rule, numpy's is arbitrary), on data with a
    planted dominant direction."""
    import numpy as np

    rng = np.random.RandomState(42)
    true_dir = np.array([3.0, 1.0, -2.0, 0.5])
    true_dir /= np.linalg.norm(true_dir)
    t = rng.randn(200) * 5.0
    X = np.outer(t, true_dir) + rng.randn(200, 4) * 0.3
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["pc1"] for r in
           similarity.pca_project(df).collect()}
    got = np.array([out[i] for i in range(200)])
    C = np.cov(X.T, bias=True)
    pc = np.linalg.eigh(C)[1][:, -1]
    corr = float(np.corrcoef(got, X @ pc)[0, 1])
    assert abs(corr) > 0.999


def test_pca_project_deterministic_and_guards(spark):
    """Partition invariance (the whole point of the integer pipeline),
    huge-component clamping totality, and empty-input handling."""
    rows = [(1, [1.0, 2.0]), (2, [2.0, 3.9]), (3, [1e30, -5.0]),
            (4, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, similarity.pca_project(df.repartition(1)).collect()))
    b = sorted(map(tuple, similarity.pca_project(df.repartition(7)).collect()))
    assert a == b and len(a) == 4          # huge value clamped, not thrown

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.pca_project(empty).collect() == []

def test_pca_topk_matches_numpy_eigendecomposition(spark):
    """Each deflated component must land on numpy's k-th eigenvector
    (|corr| ~ 1 per projected component, on data with a planted
    3-direction spectrum), and pc1 must be IDENTICAL to pca_project's
    (the shared power-iteration path)."""
    import numpy as np

    rng = np.random.RandomState(42)
    dirs = np.linalg.qr(rng.randn(6, 6))[0][:, :3]
    t = rng.randn(300, 3) * np.array([8.0, 4.0, 2.0])
    X = t @ dirs.T + rng.randn(300, 6) * 0.1
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(300)],
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["pc1"], r["pc2"], r["pc3"]) for r in
           similarity.pca_topk(df, k=3, n_iter=12).collect()}
    got = np.array([out[i] for i in range(300)])
    evecs = np.linalg.eigh(np.cov(X.T, bias=True))[1]
    for c in range(3):
        ref = X @ evecs[:, -1 - c]
        corr = abs(float(np.corrcoef(got[:, c], ref)[0, 1]))
        assert corr > 0.999, f"pc{c + 1} corr {corr}"
    p1 = {r["vec_id"]: r["pc1"] for r in
          similarity.pca_project(df, n_iter=12).collect()}
    assert all(p1[i] == out[i][0] for i in range(300))


def test_pca_topk_deterministic_and_guards(spark):
    """Partition invariance across all k components, clamping totality,
    k validation, and empty input."""
    import pytest as _pytest

    rows = [(1, [1.0, 2.0, 0.5]), (2, [2.0, 3.9, -1.0]),
            (3, [1e30, -5.0, 2.0]), (4, [0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(map(tuple, similarity.pca_topk(df.repartition(1), k=2).collect()))
    b = sorted(map(tuple, similarity.pca_topk(df.repartition(7), k=2).collect()))
    assert a == b and len(a) == 4

    with _pytest.raises(ValueError, match="k must be"):
        similarity.pca_topk(df, k=0)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.pca_topk(empty, k=2)
    assert out.collect() == [] and out.columns == ["vec_id", "pc1", "pc2"]

def test_pq_topk_recovers_clusters_exactly(spark):
    """PQ with one codeword per planted cluster: every vector in the
    query's cluster quantizes to the query's codes (ADC distance
    strictly below any other cluster's), so recall@cluster-size is
    1.0 — the quantization-cell property, not a statistical claim."""
    import numpy as np

    rng = np.random.RandomState(1)
    centers = rng.randn(8, 8) * 10
    X = np.vstack([c + rng.randn(25, 8) * 0.05 for c in centers])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(j, [float(v) for v in X[j]]) for j in (0, 60, 120)],
        "query_id long, embedding array<double>")
    out = similarity.pq_topk(df, q, k=25, m=4, n_codes=8, n_iter=3)
    byq = {}
    for r in out.collect():
        byq.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid in (0, 60, 120):
        cluster = set(range((qid // 25) * 25, (qid // 25) * 25 + 25))
        assert byq[qid] == cluster


def test_pq_encode_and_adc_consistency(spark):
    """pq_encode codes must be the argmin over pq_train codebooks, and
    pq_topk's adc_dist must equal the sum of the per-subspace exact
    integer distances recomputed in python from those same outputs."""
    import numpy as np

    rng = np.random.RandomState(2)
    X = rng.randn(40, 8) * 3
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>")
    cb = similarity.pq_train(df, m=4, n_codes=4, n_iter=2)
    codes = similarity.pq_encode(df, cb, m=4)
    # rebuild codebooks / codes in python
    cents = {}
    for r in cb.collect():
        cents.setdefault((r["subspace"], r["code"]), {})[r["pos"]] = r["c"]
    sx = np.round(X * 1_000_000).astype(np.int64)
    code_map = {(r["vec_id"], r["subspace"]): r["code"]
                for r in codes.collect()}
    for i in range(40):
        for j in range(4):
            sub = sx[i, j * 2:(j + 1) * 2]
            best = min(
                ((int(sum((int(sub[p]) - cents[(j, c)][p]) ** 2
                          for p in range(2))), c)
                 for c in range(4) if (j, c) in cents))
            assert code_map[(i, j)] == best[1]
    q = spark.createDataFrame(
        [(0, [float(v) for v in X[0]])],
        "query_id long, embedding array<double>")
    top = similarity.pq_topk(df, q, k=5, m=4, n_codes=4, n_iter=2)
    qx = sx[0]
    for r in top.collect():
        expect = 0
        for j in range(4):
            c = code_map[(r["vec_id"], j)]
            expect += int(sum((int(qx[j * 2 + p]) - cents[(j, c)][p]) ** 2
                              for p in range(2)))
        assert r["adc_dist"] == round(expect / 1e12, 6)

def test_pq_index_persisted_matches_one_shot(spark, tmp_path):
    """A persisted PQ index (codebooks + codes written once) must give
    ADC results bit-identical to the one-shot pq_topk with the same
    training params, and the search plan must read only the code and
    codebook tables — never the raw embeddings."""
    import numpy as np

    rng = np.random.RandomState(3)
    X = rng.randn(60, 8) * 4
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(j, [float(v) for v in X[j]]) for j in (0, 7)],
        "query_id long, embedding array<double>")
    idx = str(tmp_path / "pq")
    similarity.pq_index_build(df, idx, m=4, n_codes=8, n_iter=2)
    got = similarity.pq_index_topk(spark, idx, q, k=5)
    one_shot = similarity.pq_topk(df, q, k=5, m=4, n_codes=8, n_iter=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, one_shot.collect()))
    # the search scans the persisted code/codebook parquet — the raw
    # corpus embeddings never enter the plan (only the QUERY vectors'
    # embedding column appears, from the in-memory queries relation)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted")
    assert "codes" in plan and "codebooks" in plan
    # every parquet ReadSchema is codes- or codebook-shaped — no scan
    # ever reads an embedding array from storage
    import re as _re
    for rs in _re.findall(r"ReadSchema: (\S+)", plan):
        assert "embedding" not in rs


def test_pq_rejects_m_not_dividing_dim(spark):
    """dim % m != 0 must raise at runtime, not silently create a
    remainder subspace whose layout misaligns query components against
    a stored codebook (r11 ADVICE, medium). m > dim (d_sub = 0, NULL
    division keys that drop every row) is rejected by the same guard."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(i, [float(i + j) for j in range(10)]) for i in range(12)],
        "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="must divide"):
        similarity.pq_train(df, m=3, n_codes=4, n_iter=1).collect()
    with _pytest.raises(Exception, match="must divide"):
        similarity.pq_topk(
            df, df.withColumnRenamed("vec_id", "query_id").limit(1),
            k=3, m=16, n_codes=4, n_iter=1).collect()
    with _pytest.raises(ValueError, match="m must be"):
        similarity.pq_train(df, m=0)
    # the happy path (m | dim) is untouched by the guard
    assert similarity.pq_train(df, m=5, n_codes=4, n_iter=1).count() == 40


def test_pq_index_meta_and_empty_index_errors(spark, tmp_path):
    """pq_index_build persists m/scale/clamp in a meta table (the
    index is self-describing by a stored parameter, not inference —
    r11 ADVICE); an index without a meta table (here: an empty
    codebook and nothing else) or with an empty one raises a
    ValueError naming the path instead of re-inferring m."""
    import numpy as np
    import pytest as _pytest

    rng = np.random.RandomState(5)
    X = rng.randn(30, 8) * 2
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(30)],
        "vec_id long, embedding array<double>")
    idx = str(tmp_path / "pq_meta")
    similarity.pq_index_build(df, idx, m=2, n_codes=4, n_iter=1)
    meta = spark.read.parquet(idx + "/meta").collect()
    assert len(meta) == 1 and meta[0]["m"] == 2
    assert meta[0]["scale"] == 1_000_000
    q = spark.createDataFrame(
        [(0, [float(v) for v in X[0]])],
        "query_id long, embedding array<double>")
    got = similarity.pq_index_topk(spark, idx, q, k=3)
    one = similarity.pq_topk(df, q, k=3, m=2, n_codes=4, n_iter=1)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, one.collect()))
    # no meta table: clear error naming the path, no m inference
    bad = str(tmp_path / "pq_empty")
    spark.createDataFrame(
        [], "subspace long, code long, pos int, c long",
    ).write.parquet(bad + "/codebooks")
    with _pytest.raises(ValueError, match="pq_empty.*no meta row"):
        similarity.pq_index_topk(spark, bad, q, k=3)
    # an empty meta table is the same error
    spark.createDataFrame(
        [], "m INT, scale LONG, clamp DOUBLE",
    ).write.parquet(bad + "/meta")
    with _pytest.raises(ValueError, match="pq_empty.*no meta row"):
        similarity.pq_index_topk(spark, bad, q, k=3)


def test_remove_char_spans_ignores_null_bounds(spark):
    """Spans with NULL start/end are dropped before the islanding sweep
    — Spark sorts NULLS FIRST, DuckDB NULLS LAST, so a NULL row would
    make the merged islands engine-dependent (r11 ADVICE)."""
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "klmnopqrst")],
        "doc_id long, text string")
    spans = spark.createDataFrame(
        [(1, 3, 5), (1, None, 7), (1, 8, None), (2, None, None)],
        "id long, char_start int, char_end int")
    out = {r["doc_id"]: r for r in
           dedup.remove_char_spans(docs, spans).collect()}
    assert out[1]["text"] == "abfghij" and out[1]["n_spans_cut"] == 1
    assert out[1]["chars_removed"] == 3
    assert out[2]["text"] == "klmnopqrst" and out[2]["n_spans_cut"] == 0


def test_ivfpq_topk_recovers_clusters_exactly(spark):
    """IVF-PQ on planted clusters with ids interleaved so the 8
    lowest-id vectors (the coarse centroids) cover all 8 clusters:
    each cluster assigns to its own cell, a query's own cell is its
    top probe, and every same-cluster vector's ADC distance (residual
    vs the shared codebook) is strictly below any other probed cell's
    vectors — so top-k at k = cluster size returns exactly the
    cluster. The quantization-cell property, not a statistical claim
    (pq_topk test precedent)."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.randn(8, 8) * 10
    # id i belongs to cluster i % 8 -> ids 0..7 are one point per cluster
    X = np.vstack([centers[i % 8] + rng.randn(8) * 0.05
                   for i in range(200)])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(j, [float(v) for v in X[j]]) for j in (16, 17, 21)],
        "query_id long, embedding array<double>")
    out = similarity.ivfpq_topk(df, q, k=25, n_cells=8, n_probe=3,
                                m=4, n_codes=8, n_iter=2)
    byq = {}
    for r in out.collect():
        byq.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid in (16, 17, 21):
        assert byq[qid] == set(range(qid % 8, 200, 8))
    # partition invariance: the exact-integer doctrine means the same
    # result from any physical layout
    out2 = similarity.ivfpq_topk(df.repartition(7), q, k=25, n_cells=8,
                                 n_probe=3, m=4, n_codes=8, n_iter=2)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, out2.collect()))


def test_ivfpq_index_persisted_matches_one_shot(spark, tmp_path):
    """A persisted IVF-PQ index must give results bit-identical to the
    one-shot ivfpq_topk with the same build parameters; the search
    plan must carry a PartitionFilters prune on cell_id and never read
    an embedding array from parquet (codes/centroids/codebooks only)."""
    import numpy as np
    import re as _re

    rng = np.random.RandomState(13)
    centers = rng.randn(8, 8) * 10
    X = np.vstack([centers[i % 8] + rng.randn(8) * 0.05
                   for i in range(120)])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(120)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(j, [float(v) for v in X[j]]) for j in (9, 30)],
        "query_id long, embedding array<double>")
    idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_index_build(df, idx, n_cells=8, m=4, n_codes=8,
                                 n_iter=2)
    meta = spark.read.parquet(idx + "/meta").collect()
    assert len(meta) == 1 and meta[0]["m"] == 4 and meta[0]["n_cells"] == 8
    got = similarity.ivfpq_index_topk(spark, idx, q, k=10, n_probe=3)
    one = similarity.ivfpq_topk(df, q, k=10, n_cells=8, n_probe=3,
                                m=4, n_codes=8, n_iter=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, one.collect()))
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted")
    # probed-cell pushdown reaches the code table's partition column
    assert "PartitionFilters" in plan and "cell_id" in plan
    # no parquet scan ever reads an embedding array (the raw corpus is
    # touched only at build time)
    for rs in _re.findall(r"ReadSchema: (\S+)", plan):
        assert "embedding" not in rs


def _winnow_probe_fixture(spark):
    shared = ("the quick brown fox jumps over the lazy dog while the "
              "cat watches from the tall green tree nearby every day")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta " + shared + " omega end"),
         (2, "completely different filler content with no overlap at "
             "all in this document whatsoever nothing shared here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, "intro words before the passage " + shared),
         (101, "another totally unrelated new page about various "
               "plain topics nobody copied anything into this one")],
        "doc_id long, text string")
    return corpus, new


def test_winnow_probe_finds_cross_set_spans(spark, tmp_path):
    """A new doc sharing a long passage with an indexed corpus doc
    must surface as an aligned span (equal-length sides, one
    diagonal); unrelated docs must not pair. The stats form reports
    the same pair with containment > 0."""
    corpus, new = _winnow_probe_fixture(spark)
    idx = str(tmp_path / "widx")
    dedup.winnow_index_build(corpus, idx, k=4, w=4)
    spans = dedup.winnow_probe(spark, idx, new, min_shared=2,
                               output="spans").collect()
    assert {(r["corpus_id"], r["new_id"]) for r in spans} == {(1, 100)}
    for r in spans:
        assert r["a_end"] - r["a_start"] == r["b_end"] - r["b_start"]
        assert r["n_anchors"] >= 2
    stats = dedup.winnow_probe(spark, idx, new, min_shared=2,
                               output="stats").collect()
    assert len(stats) == 1 and stats[0]["corpus_id"] == 1
    assert stats[0]["new_id"] == 100 and stats[0]["containment"] > 0
    with pytest.raises(ValueError, match="output must be"):
        dedup.winnow_probe(spark, idx, new, output="nope")


def test_winnow_probe_never_rereads_corpus_text(spark, tmp_path,
                                                monkeypatch):
    """The probe's whole point at 100 TB: corpus text is read ONCE at
    index build. The probe's only parquet scans are the stored
    (doc_id, fingerprint, pos) hits — no ReadSchema ever contains a
    corpus text column, and the hits table is in the plan. Since the
    r13 checkpoint-backed _plan_cache, the shipped probe plan shows
    LogicalRDD leaves instead of its scans, so the scan-source
    assertions run on the identity-patched (un-barriered) plan — the
    same logical computation with its true data sources visible."""
    import re as _re

    corpus, new = _winnow_probe_fixture(spark)
    idx = str(tmp_path / "widx2")
    dedup.winnow_index_build(corpus, idx, k=4, w=4)
    with monkeypatch.context() as m:
        m.setattr(dedup, "_plan_cache", lambda df: df)
        bare = dedup.winnow_probe(spark, idx, new, min_shared=2,
                                  output="spans")
        plan = bare._sc._jvm.PythonSQLUtils.explainString(
            bare._jdf.queryExecution(), "formatted")
    assert "hits" in plan
    schemas = _re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas, "expected at least one parquet scan (the index)"
    # the probe tokenizes the NEW batch (its own text) but must never
    # scan the corpus: the only file scans are the index hits and the
    # new-batch in-memory relation — no parquet ReadSchema carries text
    for rs in schemas:
        assert "text" not in rs
    # probe results are invariant to the new batch's partitioning
    out = dedup.winnow_probe(spark, idx, new, min_shared=2,
                             output="spans")
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, dedup.winnow_probe(
        spark, idx, new.repartition(5), min_shared=2,
        output="spans").collect()))
    assert a == b


def test_pq_train_sample_equals_manual_subset(spark):
    """pq_train(train_sample_n=N) must be BIT-IDENTICAL to full
    training on the manually-subsetted corpus (the N rows ranked
    lowest by h32('pqs:' || id), ties -> lowest id) — the sample is a
    deterministic property of the ids, not of partitioning, so
    sampled-trained codebooks are reproducible anywhere."""
    import hashlib
    import numpy as np

    rng = np.random.RandomState(17)
    X = rng.randn(60, 8) * 3
    rows = [(i, [float(v) for v in X[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pick_key(i):
        return (int(hashlib.md5(f"pqs:{i}".encode()).hexdigest()[:8], 16), i)

    picked = sorted(range(60), key=pick_key)[:20]
    manual = df.filter(F.col("vec_id").isin(picked))
    a = sorted(map(tuple, similarity.pq_train(
        df, m=4, n_codes=4, n_iter=2, train_sample_n=20).collect()))
    b = sorted(map(tuple, similarity.pq_train(
        manual, m=4, n_codes=4, n_iter=2).collect()))
    assert a == b and len(a) == 32  # 4 subspaces * 4 codes * 2 pos
    # partition-invariant: same pick, same codebook from any layout
    c = sorted(map(tuple, similarity.pq_train(
        df.repartition(7), m=4, n_codes=4, n_iter=2,
        train_sample_n=20).collect()))
    assert a == c
    # and search still covers the FULL corpus: every vector appears
    q = spark.createDataFrame(
        [(0, [float(v) for v in X[0]])],
        "query_id long, embedding array<double>")
    top = similarity.pq_topk(df, q, k=60, m=4, n_codes=4, n_iter=2,
                             train_sample_n=20)
    assert top.count() == 60


def test_ivf_kmeans_sample_equals_manual_subset(spark):
    """ivf_kmeans_centroids(train_sample_n=N) == full Lloyd refinement
    on the manually-subsetted corpus (salt 'ivfs:'), and the refined
    centroids still assign the full corpus downstream."""
    import hashlib
    import numpy as np

    rng = np.random.RandomState(19)
    X = rng.randn(50, 8) * 4
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id long, embedding array<double>")

    def pick_key(i):
        return (int(hashlib.md5(f"ivfs:{i}".encode()).hexdigest()[:8], 16), i)

    picked = sorted(range(50), key=pick_key)[:25]
    manual = df.filter(F.col("vec_id").isin(picked))
    a = sorted(map(tuple, similarity.ivf_kmeans_centroids(
        df, n_cells=4, n_iter=2, train_sample_n=25).collect()))
    b = sorted(map(tuple, similarity.ivf_kmeans_centroids(
        manual, n_cells=4, n_iter=2).collect()))
    assert a == b and len(a) == 4


def _curate_v2_fixture(spark):
    base = ("the quick brown fox jumps over the lazy dog while a "
            "calm cat watches from the tall green tree nearby and "
            "counts every passing cloud in the warm afternoon sky")
    rows = [
        (1, base + " first unique tail about rivers and mountains", "en"),
        # exact duplicate of doc 1's long passage (the b-side to cut)
        (2, base + " second distinct ending mentioning harbors", "en"),
        (3, "completely different filler content with no overlap at "
            "all in this document whatsoever nothing is shared here "
            "and the words keep being entirely distinct throughout", "en"),
        # contaminated: shares a 4-gram with the eval doc
        (4, "training text leaking the secret benchmark answer key "
            "plus enough extra words to form several full grams "
            "so the document is not trivially short overall", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    eval_df = spark.createDataFrame(
        [(900, "the secret benchmark answer key for the held out set",
          "en")],
        "doc_id long, text string, lang string")
    return docs, eval_df


def test_curate_v2_span_cut_and_decontaminate(spark):
    """Composed pipeline, cut stage ACTIVE: the duplicated passage is
    cut from the higher-id copy (n_spans_cut > 0, chars_removed
    consistent with the text), the contaminated doc is dropped, and
    after the cut the LSH stage finds no residual near-dup — both
    copies survive with their unique tails."""
    from db_spark.llm import pipeline as lpipe

    docs, eval_df = _curate_v2_fixture(spark)
    out = {r["doc_id"]: r for r in lpipe.curate_v2(
        docs, seed_label=(F.col("doc_id") % 2 == 0),
        clf_dim=256, clf_threshold=-100.0, eval_df=eval_df,
        decontam_n=4, dedup_threshold=0.5).collect()}
    assert 4 not in out          # decontaminated
    assert set(out) == {1, 2, 3}
    assert out[2]["n_spans_cut"] >= 1 and out[2]["chars_removed"] > 0
    assert "second distinct ending" in out[2]["text"]
    assert "quick brown fox" not in out[2]["text"]  # passage cut
    assert out[1]["n_spans_cut"] == 0  # a-side (lower id) keeps its text
    assert out[3]["n_spans_cut"] == 0


def test_curate_v2_dedup_stage_catches_uncut_dups(spark):
    """Composed pipeline, cut stage INERT (min_shared too high): the
    exact near-dup pair now reaches the LSH stage intact and the
    lower-quality copy is removed — stage 6 is live inside v2, and
    the two runs together pin the documented interaction (an active
    span cut removes the verbatim duplication before whole-doc dedup
    can see it)."""
    from db_spark.llm import pipeline as lpipe

    docs, eval_df = _curate_v2_fixture(spark)
    out = {r["doc_id"]: r for r in lpipe.curate_v2(
        docs, seed_label=(F.col("doc_id") % 2 == 0),
        clf_dim=256, clf_threshold=-100.0, eval_df=eval_df,
        decontam_n=4, min_shared=10**6, dedup_threshold=0.5).collect()}
    assert all(r["n_spans_cut"] == 0 for r in out.values())
    # docs 1 and 2 are near-dups of each other; exactly one survives
    assert len({1, 2} & set(out)) == 1
    assert 3 in out


def test_pq_subspace_variance_detects_imbalance(spark):
    """The OPQ-lite diagnostic: a corpus whose energy sits in dims 0-1
    must report nearly all variance share in subspace 0 (m=4 over
    8 dims -> dims 0-1 form subspace 0); shares sum to ~1 and are
    partition-invariant (exact integer moments)."""
    import numpy as np

    rng = np.random.RandomState(29)
    X = np.hstack([rng.randn(80, 2) * 10.0, rng.randn(80, 6) * 0.1])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(80)],
        "vec_id long, embedding array<double>")
    shares = {r["subspace"]: r["var_share"]
              for r in similarity.pq_subspace_variance(df, m=4).collect()}
    assert set(shares) == {0, 1, 2, 3}
    assert shares[0] > 0.99
    assert abs(sum(shares.values()) - 1.0) < 1e-5
    again = {r["subspace"]: r["var_share"]
             for r in similarity.pq_subspace_variance(
                 df.repartition(7), m=4).collect()}
    assert shares == again


def test_pca_rotated_pq_beats_raw_on_anisotropic_corpus(spark):
    """OPQ-lite remedy, recall-pinned (r11 VERDICT stretch #8): on a
    corpus whose similarity structure is low-rank (2-D cluster signal
    rotated into 8-D plus isotropic noise), PQ over the pca_topk
    projections (m = k: each retained component gets its own 1-D
    codebook) beats raw contiguous-subspace PQ on exact-NN recall.
    Fully deterministic — seeded fixture, exact-integer engine — so
    the aggregate comparison is a fixed inequality, not a flaky
    statistical bound."""
    import numpy as np

    rng = np.random.RandomState(23)
    n, dim, K = 160, 8, 10
    centers2 = rng.randn(8, 2) * 10
    lat = np.vstack([centers2[i % 8] + rng.randn(2) * 0.3
                     for i in range(n)])
    Q, _ = np.linalg.qr(rng.randn(dim, dim))
    emb = lat @ Q[:2, :] + rng.randn(n, dim) * 1.2
    df = spark.createDataFrame(
        [(i, [float(v) for v in emb[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    qids = [3, 12, 40, 55, 77, 91, 104, 130]
    qdf = spark.createDataFrame(
        [(j, [float(v) for v in emb[j]]) for j in qids],
        "query_id long, embedding array<double>")

    def true_topk(j):
        d = ((emb - emb[j]) ** 2).sum(1)
        return set(np.argsort(d, kind="stable")[:K])

    def hits(out):
        byq = {}
        for r in out.collect():
            byq.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(byq.get(j, set()) & true_topk(j)) for j in qids)

    raw_hits = hits(similarity.pq_topk(
        df, qdf, k=K, m=4, n_codes=4, n_iter=3))
    proj = similarity.pca_topk(df, k=4, n_iter=8)
    pcols = sorted(c for c in proj.columns if c.startswith("pc"))
    pr = proj.select("vec_id", F.array(*pcols).alias("embedding"))
    qr = (proj.filter(F.col("vec_id").isin(qids))
          .select(F.col("vec_id").alias("query_id"),
                  F.array(*pcols).alias("embedding")))
    rot_hits = hits(similarity.pq_topk(
        pr, qr, k=K, m=4, n_codes=4, n_iter=3))
    # measured on this pinned fixture: raw 40/80, rotated 47/80
    assert rot_hits > raw_hits
    assert raw_hits >= 30  # raw PQ is degraded, not broken


def test_ivfpq_index_append_twins_and_immediacy(spark, tmp_path):
    """Incremental IVF-PQ maintenance: appending a batch of EXACT
    duplicates (new ids, same vectors) must (a) leave the original
    results' distances unchanged, (b) surface each twin with an ADC
    distance identical to its original (assignment + encoding depend
    only on vector, centroids, codebooks), immediately visible to
    probes. Appended batch encodes against the STORED model — no
    retrain, O(delta) work."""
    import numpy as np

    rng = np.random.RandomState(31)
    centers = rng.randn(8, 8) * 10
    X = np.vstack([centers[i % 8] + rng.randn(8) * 0.05
                   for i in range(96)])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(96)],
        "vec_id long, embedding array<double>")
    idx = str(tmp_path / "ivfpq_app")
    similarity.ivfpq_index_build(df, idx, n_cells=8, m=4, n_codes=8,
                                 n_iter=2)
    q = spark.createDataFrame(
        [(9, [float(v) for v in X[9]])],
        "query_id long, embedding array<double>")
    before = {r["vec_id"]: r["adc_dist"] for r in
              similarity.ivfpq_index_topk(spark, idx, q, k=96,
                                          n_probe=8).collect()}
    twins = spark.createDataFrame(
        [(1000 + i, [float(v) for v in X[i]]) for i in (9, 17, 25)],
        "vec_id long, embedding array<double>")
    assert similarity.ivfpq_index_append(spark, idx, twins) == 3
    after = {r["vec_id"]: r["adc_dist"] for r in
             similarity.ivfpq_index_topk(spark, idx, q, k=200,
                                         n_probe=8).collect()}
    for vid, d in before.items():
        assert after[vid] == d
    for i in (9, 17, 25):
        if i in after:  # twin's cell probed iff original's cell probed
            assert after[1000 + i] == after[i]
    assert after[1009] == after[9]


def test_ivfpq_sampled_training_recovers_clusters(spark):
    """ivfpq_topk(train_sample_n=N): the residual codebook trains on
    the 'pqs:' id-hash sample only, yet planted-cluster recovery stays
    exact (the sample is hash-uniform across clusters) and results
    are partition-invariant."""
    import numpy as np

    rng = np.random.RandomState(37)
    centers = rng.randn(8, 8) * 10
    X = np.vstack([centers[i % 8] + rng.randn(8) * 0.05
                   for i in range(160)])
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(160)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(18, [float(v) for v in X[18]])],
        "query_id long, embedding array<double>")
    out = similarity.ivfpq_topk(df, q, k=20, n_cells=8, n_probe=3,
                                m=4, n_codes=8, n_iter=2,
                                train_sample_n=60)
    got = {r["vec_id"] for r in out.collect()}
    assert got == set(range(18 % 8, 160, 8))
    out2 = similarity.ivfpq_topk(df.repartition(5), q, k=20, n_cells=8,
                                 n_probe=3, m=4, n_codes=8, n_iter=2,
                                 train_sample_n=60)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, out2.collect()))


def test_embedding_decontaminate_flags_planted_copies(spark):
    """Semantic decontamination: near-collinear copies of eval vectors
    are flagged (with n_matches and a ~1.0 max_sim); orthogonal
    training vectors are not; an empty eval set flags nothing; the
    plan broadcasts the eval side (map-only over the corpus — no
    shuffle of the training vectors before the final aggregate)."""
    import numpy as np

    rng = np.random.RandomState(41)
    E = rng.randn(4, 8) * 2
    rows = [(100 + i, [float(v) for v in E[i]]) for i in range(4)]
    ev = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    train_rows = (
        # near-copies of eval vectors 0 and 1 (tiny perturbation)
        [(1, [float(v) + 0.001 for v in E[0]]),
         (2, [float(v) - 0.002 for v in E[1]]),
         # a vector similar to BOTH eval 0 and a scaled eval 0 copy
         (3, [float(v) * 3.0 for v in E[0]])]
        + [(10 + i, [float(v) for v in rng.randn(8) * 2])
           for i in range(20)])
    train = spark.createDataFrame(
        train_rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in similarity.embedding_decontaminate(
        train, ev, threshold=0.99).collect()}
    assert {1, 2, 3}.issubset(set(out))
    for vid in (1, 2, 3):
        assert out[vid]["max_sim"] > 0.999
        assert out[vid]["n_matches"] >= 1
    assert all(v >= 100 or v in (1, 2, 3) for v in out)  # no random hits
    empty_ev = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    assert similarity.embedding_decontaminate(
        train, empty_ev, threshold=0.5).count() == 0
    # r12: integral ids + positive threshold take the GEMM kernel path
    # (eval matrix shipped per task, corpus mapInPandas — no pair join
    # at all); string ids keep the broadcast crossJoin expression path
    plan = similarity.embedding_decontaminate(
        train, ev, threshold=0.99)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    train_s = train.select(F.col("vec_id").cast("string").alias("vec_id"),
                           "embedding")
    plan_s = similarity.embedding_decontaminate(
        train_s, ev, threshold=0.99)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan_s or "BroadcastExchange" in plan_s


def test_embedding_decontaminate_kernel_matches_expression_on_dirty(spark):
    """r12: pin exact output equality between the GEMM kernel path and
    the crossJoin expression fold on a dirty fixture — NULL vectors on
    both sides, zero vectors, length mismatches, duplicate eval rows
    (n_matches must count eval ROWS, not distinct values)."""
    from db_spark.llm.similarity import (
        _cos_guarded, _dbl, _dot_d, _norm_d)

    train_rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, None),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [1.0, 0.0]),                 # length mismatch vs 4-dim eval
        (5, [0.0, 1.0, 0.0, 0.0]),
        (6, [float("nan"), 1.0, 0.0, 0.0]),  # NaN component
        (7, [1.0, None, 0.0, 0.0]),      # NULL element (NaN in pandas)
    ]
    ev_rows = [
        (100, [1.0, 0.0, 0.0, 0.0]),
        (101, [1.0, 0.0, 0.0, 0.0]),     # duplicate eval row
        (102, None),
        (103, [1.0, 0.0]),               # matches train 4's length
        (104, [1.0, None, 0.0, 0.0]),    # NULL element
    ]
    train = spark.createDataFrame(
        train_rows, "vec_id long, embedding array<double>")
    ev = spark.createDataFrame(
        ev_rows, "vec_id long, embedding array<double>")
    fast = similarity.embedding_decontaminate(train, ev, threshold=0.9)

    t = train.select(F.col("vec_id"), _dbl(F.col("embedding")).alias("_tv"))
    t = t.select("vec_id", "_tv", _norm_d(F.col("_tv")).alias("_tn"))
    e = ev.select(_dbl(F.col("embedding")).alias("_ev"))
    e = e.select("_ev", _norm_d(F.col("_ev")).alias("_en"))
    sim = F.round(_cos_guarded(
        _dot_d(F.col("_tv"), F.col("_ev")),
        F.col("_tn") * F.col("_en")), 6)
    slow = (
        t.crossJoin(F.broadcast(e))
        .select(F.col("vec_id"), sim.alias("_s"))
        .filter(F.col("_s") >= 0.9)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"),
             (F.max("_s") + F.lit(0.0)).alias("max_sim")))
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    out = {r["vec_id"]: r for r in fast.collect()}
    assert out[0]["n_matches"] == 2          # duplicate eval counted twice
    assert out[4]["n_matches"] == 1          # 2-dim eval row matches
    assert 2 not in out and 3 not in out and 5 not in out
    # a NaN cosine passes the threshold (Spark's NaN-largest ordering)
    # on both paths: the kernel must hand its NaN dots to Catalyst as
    # NaN, not as NULL
    assert out[6]["n_matches"] == 2 and math.isnan(out[6]["max_sim"])
    # a NULL element folds the dot to NULL (cosine 0.0): no match, on
    # either side, although pandas hands it to the kernel as NaN
    assert 7 not in out


def test_l2_topk_matches_numpy_ground_truth(spark):
    """l2_topk must reproduce numpy's exact squared-L2 ranking (stable
    sort = the lowest-id tie rule) and its reported distances, and be
    partition-invariant — it is the ground-truth baseline the ADC
    searchers are measured against."""
    import numpy as np

    rng = np.random.RandomState(43)
    X = rng.randn(50, 8) * 3
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(50)],
        "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(4, [float(v) for v in X[4]])],
        "query_id long, embedding array<double>")
    out = sorted(similarity.l2_topk(df, q, k=7).collect(),
                 key=lambda r: r["rank"])
    sx = np.round(X * 1_000_000).astype(np.int64)
    d = ((sx - sx[4]).astype(object) ** 2).sum(1)  # exact int
    order = sorted(range(50), key=lambda i: (d[i], i))[:7]
    assert [r["vec_id"] for r in out] == order
    for r in out:
        assert r["l2_dist"] == round(int(d[r["vec_id"]]) / 1e12, 6)
    out2 = sorted(similarity.l2_topk(df.repartition(7), q, k=7).collect(),
                  key=lambda r: r["rank"])
    assert list(map(tuple, out)) == list(map(tuple, out2))
