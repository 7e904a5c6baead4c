"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Everything is expressed with built-in Column expressions over a
**deterministic md5-derived hash family**, so (a) results are
reproducible across runs/engines — every operator here can be
oracle-checked against plain SQL — and (b) no Python executes per row.

Scale design (100 TB):
- candidate generation is always *blocked* (shared shingle / LSH band /
  SimHash half), never an unblocked cartesian product;
- ``max_shingle_df`` drops ultra-common shingles (stopword shingles at
  corpus scale generate quadratic candidate blowup);
- pair aggregation shuffles on (id_a, id_b) — skew-resistant under AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from db_spark.functions import ascii_lower

# 31-bit Mersenne prime: (a*h + b) % P stays well inside 64-bit signed
# arithmetic for h < 2^32, giving identical results in any SQL engine.
HASH_P = 2_147_483_647
KNUTH = 2_654_435_761

#: Default scale guards, ON unless explicitly disabled (pass None).
#: A shingle shared by d documents contributes O(d^2) candidate pairs, so
#: one stopword shingle ("of the and") at corpus scale is quadratic —
#: likewise one hot LSH bucket. Dropping them loses only pairs whose
#: *every* shared shingle/band is ubiquitous — near-dups share rare
#: shingles too, so recall loss is negligible while the worst case drops
#: from O(corpus^2) to O(corpus * cap).
DEFAULT_MAX_SHINGLE_DF = 1000
DEFAULT_MAX_BUCKET_SIZE = 1000

#: References to the local checkpoints _plan_cache creates (grouping
#: tables, basket tables, k-means centroids and codebooks) reused
#: inside LAZY returned plans. The builder can't release them itself —
#: the persisted table must outlive the caller's materialization of
#: the returned DataFrame — so they register here and a long-lived
#: session drops the references with unpersist_plan_caches() once
#: results are consumed (ContextCleaner then reclaims the blocks on
#: GC). A registry entry is only a reference: the returned plan keeps
#: its own, so dropping one never affects correctness.
_PLAN_CACHES: list[DataFrame] = []

#: Registry cap: each builder call registers 1-4 caches, and the
#: k-means loops one model-sized table per iteration. Evicting the
#: oldest entry drops the registry's reference only (no unpersist), so
#: the cap bounds the list, not what a live plan can read.
_PLAN_CACHE_CAP = 16


def _plan_cache(df: DataFrame) -> DataFrame:
    """Persist a derived intermediate that several consumers re-read
    AND truncate its logical plan to an RDD scan
    (``localCheckpoint(eager=True)``).

    This was ``df.cache()`` through r12. The InMemoryRelation EMBEDS
    the child plan, so under AQE every query stage that referenced a
    cache re-analyzed and re-optimized the embedded plan and raced one
    broadcast-collect job per consumer — on winnow_spans the waves of
    32-task cache-rescan jobs dominated wall time (stage profile:
    executorRunTime 3-4x executorCpuTime). The checkpoint makes every
    reference a LogicalRDD leaf: planned once, scanned cheaply.
    Measured on the same warm session (sf0.1, 3 reps): winnow_spans
    4.91 -> 1.98 s, winnow_overlap 2.56 -> 0.83 s.

    Two contracts change with the checkpoint and are deliberate:
    - LogicalRDD carries no size statistics, so joins against the
      persisted table plan as sort-merge INITIALLY; AQE re-plans them
      to broadcast at runtime from the actual shuffle sizes (and
      model-sized tables that must broadcast use explicit hints).
    - Release is by DROPPING REFERENCES (ContextCleaner reclaims the
      blocks once the RDD is garbage-collected), not by unpersist():
      a materialized local checkpoint has no lineage to recompute
      from, so explicitly unpersisting one would turn any later reuse
      into a missing-block failure — reference-dropping keeps the old
      registry's "never a correctness risk" property.

    The checkpoint is EAGER. A lazy one (``eager=False``, r13) is
    marked checkpointed at the end of whichever job first computes it,
    and consumers of the returned plan run concurrent AQE jobs: a
    broadcast job marking the RDD (Spark's global checkpoint lock, then
    the RDD's state lock) can race the DAG scheduler submitting a stage
    that reads it (state lock, then the global lock) and deadlock the
    session. Seen as a hung test run: the jstack showed exactly these
    two threads under ``dedup_clusters``. Under AQE a lazy checkpoint
    already ran every shuffle stage of ``df`` at this call, so eager
    adds one result-stage job and never computes ``df`` twice.
    """
    out = df.localCheckpoint(eager=True)
    _PLAN_CACHES.append(out)
    while len(_PLAN_CACHES) > _PLAN_CACHE_CAP:
        _PLAN_CACHES.pop(0)
    return out


def unpersist_plan_caches() -> int:
    """Release every plan-scoped persisted intermediate (and builder-
    registered broadcast — see ``register_broadcast``) registered by
    the dedup/similarity builders. Call after the DataFrames returned
    by simhash_pairs / jaccard_similarity_join have been materialized
    (collected/written); returns the number of registrations released.

    Since the r13 checkpoint form, "release" means dropping the
    registry's references — the blocks are reclaimed by Spark's
    ContextCleaner once the checkpointed RDD is garbage-collected (an
    explicit unpersist of a materialized local checkpoint would make
    any still-live reuse fail with missing blocks; see _plan_cache)."""
    n = len(_PLAN_CACHES)
    _PLAN_CACHES.clear()
    _unpersist_broadcasts()
    return n


#: Driver-side broadcasts created by builders (e.g. the eval-side
#: matrix groups of embedding_decontaminate's GEMM kernel) — same
#: lifecycle problem as _PLAN_CACHES: the broadcast must outlive the
#: caller's materialization of the returned DataFrame, so builders
#: register here and a long-lived session reclaims blocks with
#: unpersist_plan_caches(). Capped like the plan caches; evicted
#: entries are unpersisted non-blocking (executors re-fetch from the
#: driver if a straggling task still needs the variable, so eviction
#: is never a correctness risk — destroy() would be).
_BROADCASTS: list = []
_BROADCAST_CAP = 16


def register_broadcast(bc):
    """Track a builder-created Broadcast for lifecycle management (the
    _PLAN_CACHES discipline applied to broadcast variables)."""
    _BROADCASTS.append(bc)
    while len(_BROADCASTS) > _BROADCAST_CAP:
        old = _BROADCASTS.pop(0)
        try:
            old.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    return bc


def _unpersist_broadcasts() -> int:
    n = 0
    while _BROADCASTS:
        bc = _BROADCASTS.pop()
        try:
            bc.unpersist(blocking=False)
            n += 1
        except Exception:  # noqa: BLE001 - session may already be stopped
            pass
    return n


def perm_constants(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for k min-hash permutations."""
    out = []
    for i in range(k):
        a = ((2 * i + 1) * KNUTH) % HASH_P
        b = (i * 40_503 + 2_654_435_769) % HASH_P
        out.append((a or 1, b))
    return out


def h32(c: Column) -> Column:
    """Deterministic 32-bit string hash: first 8 hex digits of md5.
    SQL equivalent: ``('0x' || substr(md5(x),1,8))::BIGINT``."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Identical-group core (shared by every near-dup pair generator)
# ---------------------------------------------------------------------------

def _identical_groups(keyed: DataFrame, id_col: str, key: str,
                      *carry: str) -> DataFrame:
    """Plan-cached member table ``(_mid, _rep, *carry)`` of ``keyed``:
    ``_rep`` is the min id over the rows with an equal ``key``, so
    ``_mid == _rep`` selects one representative per group.

    Lossless whenever every decision of a pair search (blocking
    buckets, score, threshold) is a function of ``key`` alone — each
    caller's docstring says why its score is. Members then share their
    representative's buckets and scores exactly: a rep pair expands to
    every member pair with the rep pair's score (``_cross_pairs``), and
    two members of one group pair exactly as two equal keys do
    (``_within_pairs``, scored and gated by the caller). Real corpora
    are duplicate-saturated, and g copies of a key would pay the search
    g times and its pair joins g^2 times; on the representatives the
    search follows the DISTINCT key count, and only the output grows
    with duplication. Scale caps that count documents (shingle df, LSH
    bucket size, fingerprint df) stay exact by summing group sizes over
    the representatives."""
    return _plan_cache(keyed.select(
        F.col(id_col).alias("_mid"),
        F.min(id_col).over(Window.partitionBy(key)).alias("_rep"),
        *carry))


def _rep_rows(members: DataFrame, *cols) -> DataFrame:
    """``cols`` of the one representative row per group."""
    return members.filter(F.col("_mid") == F.col("_rep")).select(*cols)


def _cross_pairs(rep_pairs: DataFrame, members: DataFrame,
                 *cols: str) -> DataFrame:
    """Expand each representative pair ``(id_a, id_b, *cols)`` to every
    member pair of the two groups, id_a < id_b, ``cols`` passed through."""
    ra = members.select(F.col("_rep").alias("id_a"),
                        F.col("_mid").alias("_xa"))
    rb = members.select(F.col("_rep").alias("id_b"),
                        F.col("_mid").alias("_xb"))
    return (
        rep_pairs.join(ra, "id_a").join(rb, "id_b")
        .select(F.least("_xa", "_xb").alias("id_a"),
                F.greatest("_xa", "_xb").alias("id_b"), *cols))


def _within_pairs(members: DataFrame) -> DataFrame:
    """Every member pair inside one group, id_a < id_b:
    ``(_rep, id_a, *carry, id_b)`` with side a's carry columns, for the
    caller to score and gate."""
    carry = [c for c in members.columns if c not in ("_mid", "_rep")]
    a = members.select("_rep", F.col("_mid").alias("id_a"), *carry)
    b = members.select("_rep", F.col("_mid").alias("id_b"))
    return a.join(b, "_rep").filter(F.col("id_a") < F.col("id_b"))


def _grouped_pairs(rep_pairs: DataFrame, members: DataFrame,
                   *self_cols: Column) -> DataFrame:
    """The ``output="grouped"`` form (the 100 TB consumption form —
    opt in; ``"pairs"`` stays the default because it is the oracle
    contract): one row per representative pair, (rep_a, rep_b,
    *scores, count_a, count_b), plus a self row (rep, rep, *self_cols,
    g, g) per group of g >= 2 members. Lossless: expanding each rep
    pair to count_a x count_b cross pairs and each self row to
    g*(g-1)/2 within pairs gives the pair form, and members are
    recoverable by joining the reps back to the member key. Output
    volume follows DISTINCT keys, not duplication density."""
    counts = members.groupBy("_rep").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"))
    selfrows = (
        counts.filter(F.col("_cnt") >= 2)
        .select(F.col("_rep").alias("rep_a"), F.col("_rep").alias("rep_b"),
                *self_cols,
                F.col("_cnt").alias("count_a"), F.col("_cnt").alias("count_b"))
    )
    ca = counts.select(F.col("_rep").alias("id_a"),
                       F.col("_cnt").alias("count_a"))
    cb = counts.select(F.col("_rep").alias("id_b"),
                       F.col("_cnt").alias("count_b"))
    scores = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    grouped = (
        rep_pairs.join(ca, "id_a").join(cb, "id_b")
        .select(F.col("id_a").alias("rep_a"), F.col("id_b").alias("rep_b"),
                *scores, "count_a", "count_b")
    )
    return selfrows.unionByName(grouped)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Keep the row with the smallest id per duplicate group (hash-groupBy
    semantics; deterministic winner)."""
    w = Window.partitionBy(key).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Shingles + n-gram Jaccard
# ---------------------------------------------------------------------------

def shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-token shingles of the lowercased word stream."""
    toks = F.regexp_extract_all(ascii_lower(text), F.lit(r"[a-z']+"), 0)
    count = F.size(toks) - (n - 1)
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short texts
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.array_distinct(gram)


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exploded (id, shingle) pairs; optionally drops shingles appearing
    in more than ``max_shingle_df`` documents (scale guard).

    Tokens are staged behind a one-element explode BARRIER
    (text.stage_expr) before the gram transform: Spark does no CSE
    inside lambdas, and CollapseProject inlines a single-top-level-
    reference alias straight through a select boundary into the lambda,
    re-tokenizing the text once per gram element (n x per gram; seen in
    the r12 plan audit). The Generate barrier makes the regex run
    exactly once per document."""
    from db_spark.llm.text import _grams_of, spread_scan, stage_expr

    toks = F.regexp_extract_all(
        ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)
    t = stage_expr(spread_scan(df), [F.col(id_col).alias("_sid")], toks,
                   "_toks")
    sh = t.select(
        "_sid",
        F.explode(F.array_distinct(_grams_of(F.col("_toks"), n))).alias("shingle"))
    if max_shingle_df is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(freq.filter(F.col("_df") <= max_shingle_df).drop("_df"), "shingle")
    return sh


def _shingle_set_groups(sh: DataFrame) -> DataFrame:
    """Identical-set groups of a (``_sid``, ``shingle``) table, keyed by
    a sha2 of each doc's sorted set. Docs with no shingle in ``sh``
    have no set, so they never group or pair."""
    fp = sh.groupBy("_sid").agg(
        F.sha2(F.concat_ws("\x1f", F.array_sort(F.collect_list("shingle"))),
               256).alias("_fp"))
    return _identical_groups(fp, "_sid", "_fp")


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    threshold: float = 0.5, max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    output: str = "pairs", group_identical: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold.

    Candidates come only from the shingle inverted index (docs sharing at
    least one shingle) — no cartesian product. Jaccard is exact integer
    arithmetic: |A∩B| / (|A| + |B| - |A∩B|), computed over the guarded
    shingle sets (``max_shingle_df`` is on by default — one ubiquitous
    shingle would otherwise make the candidate set quadratic).

    Identical-set grouping (``_identical_groups``): docs are grouped
    by a fingerprint of their sorted guarded shingle set, and the
    inverted-index join runs on one representative per distinct set.
    Identical sets have identical intersections with everything, so a
    cross pair's jaccard is the representative pair's, bit-for-bit the
    same double divide; a within-group pair is 1.0, exactly what the
    direct formula yields for equal sets (s/(s+s−s)).

    ``output="grouped"`` (see ``_grouped_pairs``): (rep_a, rep_b,
    jaccard, count_a, count_b) plus a (rep, rep, 1.0, g, g) self row per
    identical-set group with g >= 2.

    ``group_identical=False`` disables the grouping and runs the direct
    inverted-index join over every document — the unfiltered brute
    force the correctness tests and oracles compare the fast paths
    against (pairs output only).
    """
    if output not in ("pairs", "grouped"):
        raise ValueError(f"output must be 'pairs' or 'grouped', got {output!r}")
    if not group_identical:
        if output != "pairs":
            raise ValueError("output='grouped' requires group_identical=True")
        sh = shingle_table(df, id_col, text_col, n, max_shingle_df)
        return _inverted_index_jaccard(sh, threshold)
    sh = _plan_cache(shingle_table(df, id_col, text_col, n, max_shingle_df))

    members = _shingle_set_groups(sh)
    # plan-cache the representative shingle table: its consumers
    # (sizes, both join sides) each re-ran the semi-join subtree
    # uncached (guide §2.4 shared-exchange rule)
    reps = _rep_rows(members, F.col("_mid").alias("_sid"))
    sh_rep = _plan_cache(sh.join(reps, "_sid", "semi"))
    rep_pairs = _inverted_index_jaccard(sh_rep, threshold)
    if threshold > 1.0:  # no pair passes, identical sets included
        members = members.filter(F.lit(False))
    if output == "grouped":
        return _grouped_pairs(rep_pairs, members, F.lit(1.0).alias("jaccard"))
    within = _within_pairs(members).select(
        "id_a", "id_b", F.lit(1.0).alias("jaccard"))
    return within.unionByName(_cross_pairs(rep_pairs, members, "jaccard"))


def _inverted_index_jaccard(sh: DataFrame, threshold: float) -> DataFrame:
    """Direct inverted-index Jaccard join over a (``_sid``, ``shingle``)
    table: candidates are docs sharing >= 1 shingle, verified by exact
    intersection counting. Returns (id_a, id_b, jaccard), id_a < id_b."""
    sizes = sh.groupBy("_sid").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("_sid").alias("id_a"), "shingle")
    b = sh.select(F.col("_sid").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("_sid").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("_sid").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _signature_from_shingles(sh: DataFrame, id_col: str,
                             k: int) -> DataFrame:
    """k-permutation MinHash signature over a prebuilt (``_sid``,
    ``shingle``) table — one hash-aggregate, a single doc-id shuffle."""
    hv = sh.withColumn("_h", h32(F.col("shingle")) % HASH_P)
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % HASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(perm_constants(k))
    ]
    return hv.groupBy(F.col("_sid").alias(id_col)).agg(*aggs)


def minhash_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, n: int = 3,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """k-permutation MinHash signature per document, columns m0..m{k-1}.
    One explode + one hash-aggregate — a single shuffle on doc id."""
    sh = shingle_table(df, id_col, text_col, n, max_shingle_df)
    return _signature_from_shingles(sh, id_col, k)


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", k: int = 16, bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Docs sharing at least one LSH band (banding: k/bands rows per
    band). Join is per (band_id, band_key) bucket — scale-safe.

    ``max_bucket_size`` (on by default) skips buckets with more members:
    a single hot bucket is quadratic in its size (both in the self-join
    and in the pair ``distinct()``), and a bucket that hot means its
    members agree on a whole band — they are near-identical and are
    still found through their other ``bands - 1`` (guarded) bands or the
    exact-dedup pass, so the cap bounds worst-case cost at
    O(corpus * cap) with negligible recall loss."""
    exploded = _banded_rows(sig, id_col, k, bands)
    if max_bucket_size is not None:
        sizes = exploded.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("_bn"))
        exploded = exploded.join(
            sizes.filter(F.col("_bn") <= max_bucket_size).drop("_bn"),
            ["band_id", "band_key"])
    a = exploded.select(F.col("_bid").alias("id_a"), "band_id", "band_key")
    b = exploded.select(F.col("_bid").alias("id_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, bands: int = 4, n: int = 3, threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH candidates + signature-estimated Jaccard filter. Returns
    (id_a, id_b, est_jaccard = fraction of equal signature components).

    Identical-set grouping (``_identical_groups``): the signature, the
    band keys, and therefore every bucket decision are pure functions
    of the guarded shingle SET, so docs are grouped by a sha2 of their
    sorted set and one representative per distinct set is signed and
    bucketed. Cross pairs inherit the rep pair's est_jaccard (identical
    signatures); within-group pairs are est 1.0 (k equal components),
    gated on the group retaining at least one bucket. The
    ``max_bucket_size`` cap stays EXACT: a bucket's size is the member
    count — the sum of group sizes over the distinct sets holding that
    band key — not the rep count, so precisely the same buckets are
    skipped as without the grouping."""
    sh = _plan_cache(shingle_table(df, id_col, text_col, n,
                                   max_shingle_df))
    members = _shingle_set_groups(sh)
    gsz = members.groupBy("_rep").agg(F.count(F.lit(1)).alias("_gsz"))
    reps = _rep_rows(members, F.col("_mid").alias("_sid"))
    sh_rep = sh.join(reps, "_sid", "semi")
    sig = _plan_cache(_signature_from_shingles(sh_rep, id_col, k))

    exploded = _banded_rows(sig, id_col, k, bands)
    if max_bucket_size is not None:
        sizes = (
            exploded.join(gsz, exploded["_bid"] == gsz["_rep"])
            .groupBy("band_id", "band_key")
            .agg(F.sum("_gsz").alias("_bn")))
        exploded = exploded.join(
            sizes.filter(F.col("_bn") <= max_bucket_size).drop("_bn"),
            ["band_id", "band_key"])
    exploded = _plan_cache(exploded)
    a = exploded.select(F.col("_bid").alias("id_a"), "band_id", "band_key")
    b = exploded.select(F.col("_bid").alias("id_b"), "band_id", "band_key")
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"),
                    *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col(id_col).alias("id_b"),
                    *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)])
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    ) / F.lit(float(k))
    rep_pairs = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    if threshold > 1.0:  # no pair passes, identical signatures included
        members = members.filter(F.lit(False))
    # within-group pairs: identical signatures agree on every band, so
    # the pair is a candidate iff ANY of the group's buckets survived
    # the cap
    wdocs = exploded.select(F.col("_bid").alias("_rep")).distinct()
    within = (
        _within_pairs(members).join(wdocs, "_rep", "semi")
        .select("id_a", "id_b", F.lit(1.0).alias("est_jaccard")))
    return _cross_pairs(rep_pairs, members, "est_jaccard").unionByName(within)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text: Column, bits: int = 32) -> Column:
    """32-bit SimHash over the lowercased token stream (with
    multiplicity). Pure array-expression aggregation — no explode, no
    shuffle: per-row fold over the token array.

    Token-less documents (no ``[a-z']`` runs — empty, NULL, digits-only
    or fully non-ASCII text) yield NULL: they carry no signal, and a
    synthetic signature (the all-zero fold) would make every such doc a
    Hamming-0 "near-duplicate" of every other — a quadratic garbage
    group at corpus scale, and a divergence from any explode-based SQL
    signature (which naturally has no rows for them)."""
    toks = F.regexp_extract_all(ascii_lower(text), F.lit(r"[a-z']+"), 0)
    # evaluation shape: hash each token ONCE (transform), then fold over
    # the hash array, then recombine bits referencing the fold ONCE via
    # zip_with — lambda args are attributes, so nothing re-evaluates the
    # md5 or the fold per bit (Spark does no CSE inside lambdas; the
    # naive inlining costs bits x md5 per token + bits x fold per row)
    hashes = F.transform(toks, lambda t: h32(t))
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for j in range(bits)
            ]),
            lambda a, v: a + v,
        ),
    )
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    contrib = F.zip_with(
        bit_votes, powers,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")))
    folded = F.aggregate(contrib, F.lit(0).cast("long"), lambda a, x: a + x)
    return F.when(F.size(toks) > 0, folded)


def simhash_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, bits: int = 32, output: str = "pairs",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.
    Candidate blocking via the pigeonhole principle: split the hash into
    (max_hamming+1) segments; any pair within distance must share at
    least one exact segment — join per segment bucket, never cartesian.

    Identical-signature grouping (``_identical_groups``): Hamming
    distance depends only on the signatures, so the segment join runs
    on one representative per DISTINCT signature, every expanded pair's
    distance is the representatives', and docs sharing a signature pair
    at Hamming 0. Measured on the 10x-replicated sf1 dir (count-shaped,
    isolating the join from driver transfer of the 8.5M-pair result):
    15.9 s -> 1.1 s, identical 8,532,800-pair output.

    ``output`` selects the result shape:

    - ``"pairs"`` (default, the oracle contract): every qualifying
      (id_a, id_b, hamming) pair, id_a < id_b. On a duplicate-saturated
      corpus this expands each rep-pair to count_a x count_b member
      pairs — O(g^2) OUTPUT rows that exist only to be re-grouped by
      any consumer.
    - ``"grouped"`` (see ``_grouped_pairs``): (rep_a, rep_b, hamming,
      count_a, count_b) plus a self row (rep, rep, 0, g, g) per group
      with g >= 2 members.
    """
    if output not in ("pairs", "grouped"):
        raise ValueError(f"output must be 'pairs' or 'grouped', got {output!r}")
    seg_n = max_hamming + 1
    seg_bits = bits // seg_n
    # NULL signatures (token-less docs) carry no signal — see simhash()
    from db_spark.llm.text import spread_scan

    sh = spread_scan(df).select(
        F.col(id_col).alias("_hid"),
        simhash(F.col(text_col), bits).alias("sh")) \
        .filter(F.col("sh").isNotNull())
    members = _identical_groups(sh, "_hid", "sh", "sh")

    segs = _rep_rows(
        members, "_mid", "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(s).alias("seg_id"),
                F.shiftright(F.col("sh"), s * seg_bits)
                .bitwiseAND(F.lit((1 << seg_bits) - 1)).alias("seg_key"),
            )
            for s in range(seg_n)
        ])).alias("seg"),
    ).select("_mid", "sh", "seg.seg_id", "seg.seg_key")
    a = segs.select(F.col("_mid").alias("id_a"), F.col("sh").alias("sh_a"), "seg_id", "seg_key")
    b = segs.select(F.col("_mid").alias("id_b"), F.col("sh").alias("sh_b"), "seg_id", "seg_key")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    rep_pairs = (
        a.join(b, ["seg_id", "seg_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        # filter BEFORE the dedup exchange: pairs sharing several
        # segments have one fixed hamming, so dropping >max first is
        # value-identical and the distinct shuffles only survivors
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    zero = F.lit(0).cast("integer").alias("hamming")
    if output == "grouped":
        return _grouped_pairs(rep_pairs, members, zero)
    within = _within_pairs(members).select("id_a", "id_b", zero)
    return within.unionByName(_cross_pairs(rep_pairs, members, "hamming"))


# ---------------------------------------------------------------------------
# Exact repeated-span detection (substring-dedup flagging)
# ---------------------------------------------------------------------------

def h60(c: Column) -> Column:
    """Deterministic 60-bit string hash: first 15 hex digits of md5.
    SQL equivalent: ``('0x' || substr(md5(x),1,15))::BIGINT``. Fits a
    signed int64; collision odds for N keys ~ N^2 / 2^61."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def span_dup_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window: int = 8, min_df: int = 2,
) -> DataFrame:
    """Per-document stats on token windows duplicated *across* the corpus
    — the flagging half of exact substring dedup ("Deduplicating Training
    Data Makes Language Models Better" does this with a suffix array; a
    fixed-width sliding window over the token stream catches the same
    >=window-token repeated spans, since any long shared substring
    contains a shared window).

    Shape at 100 TB: the window table has one row per token (the same
    cardinality a suffix array indexes), grouped by a 60-bit window hash
    rather than the window string so shuffle width is (id, pos, int64)
    instead of carrying ~window words of text per row. Two passes over
    the corpus (like unigram_surprisal/BM25): pass 1 aggregates hashes to
    the >= min_df dup set, pass 2 rebuilds windows and joins the much
    smaller dup set back — recomputing beats caching a token-cardinality
    table. Both engines hash identically (md5 prefix), so a collision —
    ~N^2/2^61 — changes both sides the same way. Only flagged documents
    are returned (docs whose every window is corpus-unique produce no
    row); total windows per doc ride along as a grouping key, so there is
    no corpus-wide join back.

    Returns (id, n_windows, n_dup_windows, n_dup_distinct, first_dup_pos,
    dup_frac) for documents containing at least one window that appears
    in >= ``min_df`` distinct documents."""
    from db_spark.llm.text import _grams_of, spread_scan, stage_expr

    toks = F.regexp_extract_all(
        ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)
    # explode-barrier staging (stage_expr): a bare select boundary is
    # collapsed and the regex lands inside the gram lambda — window x
    # regex evaluations per document (30 copies in the pre-r12 plan;
    # 57 s -> ~2 s noop at sf0.1). spread_scan parallelizes the regex
    # map side on small scans (r13; no-op at scale).
    t = stage_expr(spread_scan(df), [F.col(id_col).alias("_sid")], toks,
                   "_toks")
    wins = t.select(
        "_sid",
        F.transform(_grams_of(F.col("_toks"), window), h60).alias("_wins"))
    w = wins.select(
        "_sid",
        F.size("_wins").alias("_nw"),
        F.posexplode("_wins").alias("_pos", "_wh"),
    )
    freq = (
        w.groupBy("_wh").agg(F.countDistinct("_sid").alias("_wdf"))
        .filter(F.col("_wdf") >= min_df).select("_wh")
    )
    dup = w.join(freq, "_wh")
    return (
        dup.groupBy("_sid", "_nw")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.countDistinct("_wh").alias("n_dup_distinct"),
            F.min("_pos").alias("_minpos"),
        )
        .select(
            F.col("_sid").alias(id_col),
            F.col("_nw").cast("long").alias("n_windows"),
            F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
            F.col("n_dup_distinct").cast("long").alias("n_dup_distinct"),
            (F.col("_minpos") + 1).cast("long").alias("first_dup_pos"),
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("_nw"), 6
            ).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Exact substring dedup, removal half: for every token window that
    appears in >= 2 documents, the lowest-id document keeps its text and
    every other document has the covered tokens cut out; the survivors
    are reassembled in order. Internal repetition within a single
    document is untouched (cross-corpus dedup, not compression).

    Cost class at 100 TB = suffix-array substring dedup: one shuffle at
    token cardinality (the anti-join of token rows against covered
    positions) plus the two-pass window aggregation of span_dup_stats.
    Reassembly is a per-document sort of its own tokens — memory bounded
    by document length, never corpus size.

    Returns (id, n_tokens_before, n_tokens_removed, clean_text) for
    documents that changed."""
    from db_spark.llm.text import _grams_of, spread_scan, stage_expr

    toks = F.regexp_extract_all(
        ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)
    # explode-barrier staging — same CollapseProject-into-lambda hazard
    # as span_dup_stats (see stage_expr)
    t = stage_expr(spread_scan(df), [F.col(id_col).alias("_sid")], toks,
                   "_toks")
    w = t.select(
        "_sid",
        F.posexplode(
            F.transform(_grams_of(F.col("_toks"), window), h60)
        ).alias("_pos", "_wh"),
    )
    winners = (
        w.groupBy("_wh")
        .agg(F.min("_sid").alias("_keep"), F.countDistinct("_sid").alias("_wdf"))
        .filter(F.col("_wdf") >= 2)
        .select("_wh", "_keep")
    )
    covered = (
        w.join(winners, "_wh")
        .filter(F.col("_sid") != F.col("_keep"))
        .select(
            "_sid",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + (window - 1))
            ).alias("_tp"),
        )
        .distinct()
    )
    # only affected documents are ever re-tokenized/reassembled (semi-
    # join on the distinct flagged ids); a LEFT join + conditional agg —
    # not an anti-join — so a fully-covered document still comes back,
    # as (n_removed = n_before, clean_text = '')
    affected = covered.select("_sid").distinct()
    tok_rows = (
        t.join(affected, "_sid")
        .select("_sid", F.size("_toks").alias("_nb"),
                F.posexplode("_toks").alias("_tp", "_tok"))
    )
    flagged = tok_rows.join(
        covered.withColumn("_cov", F.lit(1)), ["_sid", "_tp"], "left")
    rebuilt = (
        flagged.groupBy("_sid", "_nb")
        .agg(
            F.sum(F.when(F.col("_cov").isNull(), 1).otherwise(0)).alias("_na"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("_cov").isNull(),
                               F.struct("_tp", "_tok")))),
                    lambda x: x.getField("_tok"),
                ),
            ).alias("clean_text"),
        )
    )
    return rebuilt.select(
        F.col("_sid").alias(id_col),
        F.col("_nb").cast("long").alias("n_tokens_before"),
        (F.col("_nb") - F.col("_na")).cast("long").alias("n_tokens_removed"),
        "clean_text",
    )


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 20, on_unconverged: str = "raise",
) -> DataFrame:
    """Cluster near-dup pairs into components; cluster_id = min member id
    (the canonical document). Label propagation: each node repeatedly
    takes the min label among itself and its neighbors — converges in
    O(component diameter) rounds, each round one join + one min-agg, all
    distributed (the driver only checks the convergence counter).
    Near-dup components are shallow (diameter ~2-4), so this beats
    pointer-jumping in practice at corpus scale.

    Convergence contract: if labels are still changing after
    ``max_iter`` rounds (a pathological long chain), the result would
    silently contain split clusters — so ``on_unconverged`` controls
    the outcome: ``"raise"`` (default) raises RuntimeError,
    ``"warn"`` logs a warning and returns the partial labels."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("lbl", F.col("node"))
        .cache()
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src").agg(F.min("lbl").alias("nlbl"))
        )
        # localCheckpoint (not cache) truncates lineage each round:
        # without it the plan nests one join deeper per iteration —
        # driver-side planning blows up long before the data does (on a
        # real cluster use a reliable checkpoint dir if executor loss
        # during the loop must be survivable).
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n").join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl")).count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — clusters would be split; "
            f"raise max_iter (rounds needed ~ component diameter)"
        )
        if on_unconverged == "raise":
            labels.unpersist()
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def _banded_rows(sig: DataFrame, id_col: str, k: int,
                 bands: int) -> DataFrame:
    """Explode a signature table into (id, band_id, band_key) rows —
    the bucket-membership form both the pairwise self-join and the
    persisted index build share."""
    rows = k // bands
    band_cols = [
        F.concat_ws("_", *[F.col(f"m{b * rows + r}") for r in range(rows)])
        .alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col).alias("_bid"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.col(f"band{b}").alias("band_key"))
            for b in range(bands)
        ])).alias("bk"),
    ).select("_bid", "bk.band_id", "bk.band_key")


def lsh_index_build(
    corpus: DataFrame, path: str, id_col: str = "doc_id",
    text_col: str = "text", k: int = 16, bands: int = 4, n: int = 3,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> None:
    """Persist the corpus's LSH band buckets (hive-partitioned by
    ``band_id``, bucket sizes precomputed) — the state INCREMENTAL
    dedup probes against: a daily ingest asks "which existing docs is
    each new doc near?" without re-signing or re-joining the 100 TB
    history (`lsh_index_probe`). Parameters are pinned in a meta file;
    probes must shingle/hash identically or buckets are meaningless."""
    import json
    import os

    sig = minhash_signature(corpus, id_col, text_col, k, n, max_shingle_df)
    rows = _banded_rows(sig, id_col, k, bands)
    sizes = rows.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("_bn"))
    rows.join(sizes, ["band_id", "band_key"]).write.mode(
        "overwrite").partitionBy("band_id").parquet(path + "/bands")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump({"k": k, "bands": bands, "n": n,
                   "max_shingle_df": max_shingle_df}, fh)


def lsh_index_probe(
    spark, path: str, new_docs: DataFrame, id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate (new_id, corpus_id) near-dup pairs for NEW documents
    against the persisted corpus index: sign only the delta, explode
    its bands, and bucket-join against the stored membership — cost is
    O(new docs · bands) join rows against bucket-local state, never a
    rescan of the corpus. Hot corpus buckets (> ``max_bucket_size``,
    sizes precomputed at build) are skipped under the standard recall
    argument. Verify candidates with exact Jaccard
    (`ngram_jaccard_pairs` semantics) before acting; the index stores
    no text. Returns distinct (new_id, corpus_id)."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    sig = minhash_signature(
        new_docs, id_col, text_col, meta["k"], meta["n"],
        meta["max_shingle_df"])
    probe = _banded_rows(sig, id_col, meta["k"], meta["bands"])
    index = spark.read.parquet(path + "/bands")
    if max_bucket_size is not None:
        index = index.filter(F.col("_bn") <= max_bucket_size)
    return (
        probe.join(index.withColumnRenamed("_bid", "_cid"),
                   ["band_id", "band_key"])
        .select(F.col("_bid").alias("new_id"),
                F.col("_cid").alias("corpus_id"))
        .filter(F.col("new_id") != F.col("corpus_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Quality-aware representative selection
# ---------------------------------------------------------------------------

def select_representatives(
    clusters: DataFrame, docs: DataFrame, score: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """One keeper per near-dup cluster: the member with the highest
    ``score`` (a Column over ``docs``), ties broken toward the smallest
    id. Replaces the min-id canonical choice of
    :func:`connected_components` when a quality signal exists — at
    training-data scale you want to KEEP the best-written copy of a
    duplicated page, not the one that happens to carry the lowest id.

    Scores are compared as integer parts-per-million
    (``round(clamp(score, 0, 1) * 1e6)``) so the argmax is exact
    integer comparison — an oracle engine computing the same rational
    score expression reproduces the keeper set bit-for-bit, and a
    last-ulp double difference can never flip a winner.

    One hash-join of the (small) cluster membership against docs and
    one cluster-keyed max of a (ppm, -id) struct — no window sort.
    Returns ``(cluster_id, keep_id)``.
    """
    ppm = F.round(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), score)) * 1_000_000
    ).cast("long")
    members = clusters.join(docs, id_col).select(
        "cluster_id", F.col(id_col).alias("_mid"), ppm.alias("_ppm"))
    best = members.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("_ppm"), (-F.col("_mid")).alias("_nid")))
        .alias("_b"))
    return best.select(
        "cluster_id", (-F.col("_b._nid")).alias("keep_id"))


def dedup_corpus_keep_best(
    docs: DataFrame, score: Column, id_col: str = "doc_id",
    text_col: str = "text", k: int = 16, bands: int = 4, n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end near-dup removal keeping the best-quality member of
    every cluster: MinHash-LSH pairs -> connected components ->
    :func:`select_representatives` -> anti-join the non-keepers.
    Singletons (docs in no pair) survive untouched. Same shuffle
    profile as the min-id pipeline plus one membership-sized join.
    """
    pairs = minhash_dedup_pairs(
        docs, id_col, text_col, k=k, bands=bands, n=n, threshold=threshold)
    clusters = connected_components(pairs)  # returns (doc_id, cluster_id)
    if id_col != "doc_id":
        clusters = clusters.withColumnRenamed("doc_id", id_col)
    keepers = select_representatives(clusters, docs, score, id_col)
    losers = (
        clusters.join(keepers, "cluster_id")
        .filter(F.col(id_col) != F.col("keep_id"))
        .select(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Exact set-similarity join (prefix filtering)
# ---------------------------------------------------------------------------

def jaccard_similarity_join(
    df: DataFrame, threshold: float, id_col: str = "doc_id",
    text_col: str = "text", n: int = 3, output: str = "pairs",
) -> DataFrame:
    """EXACT all-pairs shingle-Jaccard join: every pair with
    ``J(a, b) >= threshold``, no candidates missed — the
    prefix-filtering family (SSJoin / PPJoin) rather than LSH, for
    when recall must be 1.0 (contamination audits, legal dedup) and
    the threshold is high.

    Scale shape: each document's shingle set is ranked by GLOBAL
    shingle rarity (ascending document frequency, shingle tie-break);
    only the first ``|d| - ceil(t*|d|) + 1`` shingles — the prefix —
    enter the candidate join. Prefix theorem: two sets with overlap
    >= alpha must share a token within their (|d|-alpha+1)-prefixes
    under any shared global order, and J >= t implies overlap >=
    ceil(t*|d|) for both docs of any pair passing the length filter
    ``t * max(|a|,|b|) <= min(|a|,|b|)`` (pairs failing it cannot
    reach J >= t at all, since J <= min/max). So joining PREFIXES on
    the rarest shingles is lossless, while the candidate lists are
    driven by rare-token document frequencies instead of stopword
    frequencies — the exact-recall counterpart of the LSH band join.
    Candidates then verify by exact intersection counting (bounded:
    only candidate pairs are counted), with the threshold compared by
    integer cross-multiplication (ppm) so no float sits at the
    accept boundary.

    Shuffles: shingle-keyed df-count, per-doc rank window (partition =
    one document), shingle-keyed prefix self-join, pair-keyed
    intersection count. No all-pairs stage anywhere. Returns
    ``(id_a, id_b, jaccard)``, ``id_a < id_b``, jaccard rounded to 6dp.

    Identical-set grouping (``_identical_groups``): an exact join exists
    to audit duplicate-saturated corpora, so docs are grouped by a
    fingerprint of their sorted shingle set and the prefix join runs on
    one representative per distinct set. Members share their
    representative's set, so every expanded pair's jaccard is the
    representative pair's, exactly, and within-group pairs are 1.0.
    Measured at the replicated sf1 dir (10 copies per doc,
    collect-shaped like the bench): 161 s → 4.4 s, identical
    250,600-row output.

    ``output="grouped"`` (see ``_grouped_pairs``): (rep_a, rep_b,
    jaccard, count_a, count_b) plus a self row (rep, rep, 1.0, g, g)
    per identical-set group with g >= 2.
    """
    if output not in ("pairs", "grouped"):
        raise ValueError(f"output must be 'pairs' or 'grouped', got {output!r}")
    t_ppm = int(round(threshold * 1_000_000))

    # ---- per-doc shingle-set table, array-first (r13, guide §2.3) ----
    # ONE map-only pass yields each doc's distinct shingle set as an
    # array plus its size and identical-set fingerprint. The previous
    # form exploded the set (shingle_table) and re-aggregated it back
    # by doc THREE times — the sha2 fingerprint groupBy, a per-doc
    # count window, and the verify-array collect_list — three _jid
    # exchanges over shingle-cardinality rows that all duplicate
    # information the gram array already had before the explode. The
    # fingerprint is bit-identical: sha2 over the sorted array equals
    # sha2 over array_sort(collect_list(exploded elements)).
    arrs = _plan_cache(_shingle_sets(df, id_col, text_col, n))
    # docs with zero shingles never enter arrs, so they can't group
    members = _identical_groups(arrs, "_jid", "_fp")

    # plan-cache the representative set table: _ppjoin_pairs reads it
    # three ways (freq explode, ranked prefix, verify arrays)
    reps = _rep_rows(members, F.col("_mid").alias("_jid"))
    arr_rep = _plan_cache(arrs.join(reps, "_jid", "semi"))
    rep_pairs = _ppjoin_pairs(arr_rep, threshold, t_ppm)
    if t_ppm > 1_000_000:  # no pair passes, identical sets included
        members = members.filter(F.lit(False))
    if output == "grouped":
        return _grouped_pairs(rep_pairs, members, F.lit(1.0).alias("jaccard"))
    within = _within_pairs(members).select(
        "id_a", "id_b", F.lit(1.0).alias("jaccard"))
    return within.unionByName(_cross_pairs(rep_pairs, members, "jaccard"))


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int,
) -> DataFrame:
    """One row per document with >= 1 shingle: ``(_jid, _set, _sz,
    _fp)`` — the distinct n-gram shingle set as an array, its size, and
    the identical-set fingerprint (sha2 over the sorted set) — from ONE
    map-only pass with NO exchange. Tokens and the gram array are each
    staged behind a one-element explode barrier (text.stage_expr):
    CollapseProject would otherwise inline the tokenizer regex into
    every gram lambda element and the gram transform into each of its
    three downstream references (set / size / fingerprint)."""
    from db_spark.llm.text import _grams_of, spread_scan, stage_expr

    toks = F.regexp_extract_all(
        ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)
    t = stage_expr(spread_scan(df), [F.col(id_col).alias("_jid")], toks,
                   "_toks")
    s = stage_expr(t, ["_jid"],
                   F.array_distinct(_grams_of(F.col("_toks"), n)), "_set")
    return (
        s.filter(F.size("_set") > 0)
        .select(
            "_jid", "_set",
            F.size("_set").cast("long").alias("_sz"),
            F.sha2(F.concat_ws("\x1f", F.array_sort("_set")), 256)
            .alias("_fp"))
    )


def _ppjoin_pairs(arrs: DataFrame, threshold: float, t_ppm: int) -> DataFrame:
    """PPJoin core over a per-doc set-array table ``(_jid, _set, _sz)``
    (one row per doc, ``_set`` a distinct-element array) — prefix
    filtering + length filter + positional filter + exact intersection
    verify (see jaccard_similarity_join's docstring for the prefix
    theorem)."""
    sh = arrs.select("_jid", "_sz", F.explode("_set").alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
    from pyspark.sql import Window

    # set size rides along from the array form — the rank window is the
    # only per-doc pass left (the r12 count window is gone)
    ranked = sh.join(freq, "shingle").withColumn(
        "_pos", F.row_number().over(
            Window.partitionBy("_jid").orderBy("_f", "shingle")))
    plen = (F.col("_sz")
            - F.ceil(F.lit(threshold) * F.col("_sz")).cast("long") + 1)
    prefix = ranked.filter(F.col("_pos") <= plen)
    a = prefix.select(F.col("_jid").alias("id_a"), "shingle",
                      F.col("_sz").alias("_sza"), F.col("_pos").alias("_pa"))
    b = prefix.select(F.col("_jid").alias("id_b"), "shingle",
                      F.col("_sz").alias("_szb"), F.col("_pos").alias("_pb"))
    # positional filter (PPJoin, Xiao et al. 2008): a join row matching
    # token w at ranks (_pa, _pb) bounds the pair's TOTAL overlap when w
    # is the pair's FIRST shared token in the global (_f, shingle)
    # order — every shared token then sits at rank >= _pa in a and
    # >= _pb in b, so overlap <= 1 + min(_sza - _pa, _szb - _pb). J >= t
    # forces overlap*(1e6 + t_ppm) >= t_ppm*(_sza + _szb) (integer form
    # of i >= t/(1+t)*(|a|+|b|)), so rows whose bound fails it cannot
    # witness a qualifying pair. Lossless: a qualifying pair's
    # first-shared-token row lies in both prefixes (the prefix theorem's
    # witness IS the first shared token) and its bound >= the true
    # overlap, so that row always survives into the distinct. Measured
    # at sf0.1: candidate pairs 309k -> 125k (same 241 verified).
    ub = F.lit(1) + F.least(F.col("_sza") - F.col("_pa"),
                            F.col("_szb") - F.col("_pb"))
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.greatest("_sza", "_szb") * F.lit(t_ppm)
                <= F.least("_sza", "_szb") * F.lit(1_000_000))
        .filter(ub * F.lit(1_000_000 + t_ppm)
                >= F.lit(t_ppm) * (F.col("_sza") + F.col("_szb")))
        .select("id_a", "id_b").distinct()
    )
    # verify on SET ARRAYS, not exploded rows: the old form expanded
    # every candidate pair by all of id_a's shingles (|cand| x |set|
    # rows — 21M at sf1, 13 s of the 20 s noop run) through a join and
    # a pair-keyed count. Attaching each side's whole shingle set as
    # one array row (doc cardinality, straight from the cached array
    # table) and counting with size(array_intersect(...)) does the
    # same exact intersection per pair inside codegen — two
    # doc-cardinality joins instead of a 21M-row join + aggregate
    # (guide §2.3 "aggregate before you shuffle" / §2.4). The gram
    # arrays are array_distinct outputs, so they are sets and
    # array_intersect's set semantics count exactly. The _i >= 1
    # guard keeps the old inner-join behavior where zero-intersection
    # candidates never surfaced (only reachable at threshold 0).
    aa = arrs.select(F.col("_jid").alias("id_a"),
                     F.col("_set").alias("_seta"),
                     F.col("_sz").alias("_sza"))
    ab = arrs.select(F.col("_jid").alias("id_b"),
                     F.col("_set").alias("_setb"),
                     F.col("_sz").alias("_szb"))
    # the one-element explode is a deliberate pushdown BARRIER: without
    # it, PushDownPredicate folds the threshold filter into the join
    # condition with the _i alias INLINED, evaluating array_intersect
    # three times per candidate row in the join condition plus once in
    # the projection (seen in the sf1 plan; ~4x the verify cost).
    # Filters on a generator output cannot be pushed below the
    # Generate, so the intersect is computed exactly once per pair.
    inter = (
        cand.join(aa, "id_a").join(ab, "id_b")
        .select("id_a", "id_b", "_sza", "_szb",
                F.explode(F.array(
                    F.size(F.array_intersect("_seta", "_setb"))
                    .cast("long"))).alias("_i"))
    )
    union_sz = F.col("_sza") + F.col("_szb") - F.col("_i")
    return (
        inter
        .filter((F.col("_i") >= 1)
                & (F.col("_i") * F.lit(1_000_000) >= F.lit(t_ppm) * union_sz))
        .select("id_a", "id_b",
                F.round(F.col("_i").cast("double") / union_sz, 6)
                .alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (MOSS-style local fingerprinting)
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 4, w: int = 4, output: str = "stats",
    char_offsets: bool = False,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken, "Winnowing:
    Local Algorithms for Document Fingerprinting", SIGMOD 2003): hash
    every ``k``-token gram with the corpus-wide ``h60`` family, slide a
    window of ``w`` consecutive gram hashes over the document, and
    select each window's MINIMUM hash. The distinct selected hashes are
    the document's fingerprint set, with the paper's guarantee: any two
    documents sharing a token run of length >= ``k + w - 1`` share at
    least one fingerprint, while only ~2/(w+1) of all grams are kept.

    Selection here is by VALUE (distinct window minima), not the
    paper's rightmost-position variant — positions don't affect which
    hash values are selected, only how ties inside one window are
    attributed, and the value-set form is what the overlap join
    consumes. Deterministic on any engine: md5-prefix hashes, integer
    minima, no randomness.

    Shape at 100 TB: one exchange at token cardinality (the window
    partitioning on document id — span_dup_stats' accepted cost
    class), two window passes over the same partitioning (gram build,
    winnow min), then a distinct at fingerprint cardinality (~2/(w+1)
    of the grams). Output rows (``stats``) are one per document with
    at least one full window; ``fps`` is one row per (document,
    distinct fingerprint) for downstream joins.

    Returns ``stats``: (id, n_grams, n_windows, n_fingerprints,
    density) with density = n_fingerprints / n_windows rounded 6;
    ``fps``: (id, fingerprint); or ``hits`` (r10): one row per gram
    OCCURRENCE of a selected fingerprint value — (id, fingerprint,
    pos) with ``pos`` the 1-based token position of the gram start
    (the module's position convention, first_dup_pos precedent) — the
    position-bearing form ``winnow_overlap(output="spans")`` aligns
    passages from.

    ``char_offsets=True`` (``hits`` mode only, r13) additionally emits
    the GRAM's 1-based inclusive codepoint span into the original text
    — (char_start, char_end) = the char start of the gram's first
    token and the char end of its last. The offsets ride the token
    pass itself: the tokenize regex's SPLIT pieces (separator lengths)
    zip with the tokens, one running-sum window over the existing
    (_wid, _pos) sort yields every token's char start, and the gram's
    end is a lead() on the same sort — no second text pass, no
    separate offset table, no lookup join (previously
    ``_token_char_offsets`` + a melt-join: one extra full regex pass
    over the corpus plus an exchange at span cardinality, guide §2.4).
    """
    if output not in ("stats", "fps", "hits"):
        raise ValueError(
            f"output must be 'stats', 'fps' or 'hits', got {output!r}")
    if char_offsets and output != "hits":
        raise ValueError("char_offsets requires output='hits'")
    # Relational shape, NOT array higher-order functions: tokens are
    # exploded to rows ONCE (the regex runs once per document inside
    # the Generate), grams come from lead() windows, the winnowing
    # minimum from a w-row min frame — all whole-stage-codegen
    # operators. The first cut used nested transform/slice over a gram
    # ARRAY; CollapseProject inlined the tokenizer regex into every
    # element_at reference, re-running regexp_extract_all over the
    # full text windows*w*k times per document (jstack showed
    # RegExpExtractAll under ConcatWs) — a ~1000x interpreted-eval
    # blowup at sf0.1. The row form evaluates each stage exactly once.
    low = ascii_lower(F.col(text_col))
    toks = F.regexp_extract_all(low, F.lit(r"[a-z']+"), 0)
    wd = Window.partitionBy("_wid").orderBy("_pos")
    # The gram/winnow chain is CPU-bound regex + windows, and BOTH of
    # its serialization points are fixed by ONE keyed repartition of
    # the documents BEFORE the tokenize (r13):
    # - the tokenize regex + explode otherwise run at SCAN parallelism
    #   (the testdata tables are single-row-group files — 1-2 tasks);
    # - the window exchange otherwise carries the EXPLODED token rows
    #   (more bytes than the text), and AQE's byte-based coalescing
    #   squeezed that exchange to 1-2 tasks anyway (compressed bytes
    #   are the wrong cost proxy for per-row CPU).
    # hashpartitioning(id) propagates through the Generate and the
    # projections, so Window.partitionBy(_wid) adds NO exchange — the
    # corpus text shuffles once where the token rows shuffled before
    # (strictly fewer bytes), at the session's configured pre-AQE
    # shuffle width (a user repartition, exempt from AQE coalescing;
    # scale-adaptive because the width is the operator's configured
    # spark.sql.shuffle.partitions, not a local constant).
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.select(F.col(id_col), F.col(text_col)).repartition(
        n_shuffle, F.col(id_col))
    if char_offsets:
        # tokens zipped with the separator-piece lengths (n+1 pieces
        # for n tokens; the zip's last row has a NULL token and is
        # dropped — identical row set to the plain posexplode). Char
        # start of token i = 1 + sum of all separator and token
        # lengths before it: one running-sum frame on the same
        # (_wid, _pos) sort every gram window already uses. The
        # formula is the _token_char_offsets interleave collapsed —
        # cs(i) = sum_{j<i}(sl_j + tl_j) + sl_i + 1 — so the emitted
        # offsets are value-identical to the offset-map path.
        seps = F.transform(F.split(low, r"[a-z']+"), F.length)
        t = (
            df.select(F.col(id_col).alias("_wid"),
                      F.posexplode(F.arrays_zip(
                          seps.alias("_sl"), toks.alias("_tk")))
                      .alias("_pos", "_z"))
            .select("_wid", "_pos", F.col("_z._sl").alias("_sl"),
                    F.col("_z._tk").alias("_tok"))
            .filter(F.col("_tok").isNotNull()))
        prev = wd.rowsBetween(Window.unboundedPreceding, -1)
        t = (
            t.select(
                "_wid", "_pos", "_tok",
                (F.coalesce(
                    F.sum(F.col("_sl") + F.length("_tok")).over(prev),
                    F.lit(0)) + F.col("_sl") + 1).alias("_tcs"))
            .select("_wid", "_pos", "_tok", "_tcs",
                    (F.col("_tcs") + F.length("_tok") - 1).alias("_tce")))
    else:
        t = df.select(F.col(id_col).alias("_wid"),
                      F.posexplode(toks).alias("_pos", "_tok"))
    gram = F.concat_ws(
        " ", F.col("_tok"),
        *[F.lead("_tok", j).over(wd) for j in range(1, k)])
    nt = F.count(F.lit(1)).over(Window.partitionBy("_wid"))
    gcols = []
    if char_offsets:
        # the gram's codepoint span: its first token's char start, its
        # last token's char end — the lead rides the same sort
        gcols = [F.col("_tcs").alias("_gcs"),
                 (F.lead("_tce", k - 1).over(wd) if k > 1
                  else F.col("_tce")).alias("_gce")]
    g = (
        t.select("_wid", "_pos", nt.alias("_nt"), h60(gram).alias("_gh"),
                 *gcols)
        # only full k-gram rows (lead past the document end returns
        # NULL and concat_ws would silently shorten the gram)
        .filter(F.col("_pos") <= F.col("_nt") - k)
    )
    wnd = Window.partitionBy("_wid").orderBy("_pos").rowsBetween(0, w - 1)
    ng = F.col("_nt") - (k - 1)
    sel = (
        g.select("_wid", "_pos", ng.alias("_ng"),
                 F.min("_gh").over(wnd).alias("_fp"))
        # only full w-windows of grams (same frame-shortening rule)
        .filter(F.col("_pos") <= F.col("_ng") - w)
    )
    fps = sel.select("_wid", "_ng", "_fp").distinct()
    if output == "fps":
        return fps.select(
            F.col("_wid").alias(id_col), F.col("_fp").alias("fingerprint"))
    if output == "hits":
        # every gram occurrence of a selected fingerprint VALUE — the
        # value-set selection rule means a selected hash marks all its
        # occurrences (same hash = same gram text, modulo the 60-bit
        # collision odds), which is exactly what span alignment wants.
        #
        # JOIN-FREE form (r12, guide §2.4): the first cut joined the
        # gram rows back against fps on (_wid, _fp) — a second full
        # execution of the token-window subtree (ReuseExchange dedups
        # only the first exchange, not the sorts/windows above it)
        # plus a gram-cardinality shuffle join — measured 16.5 s solo
        # at sf1, the dominant stage of winnow_spans. Equivalent
        # window algebra on ONE pass instead:
        #   _wm(p)  = min of window starting at p (NULL if p is not a
        #             valid start) — the value window p SELECTS;
        #   _sel(q) = max of _wm over the w windows containing q; max
        #             ignores the NULL invalid starts, and since every
        #             covering window's min is <= _gh(q), equality
        #             _sel(q) == _gh(q) holds iff q's VALUE is the min
        #             of at least one covering window — i.e. iff q is
        #             an occurrence where the value got selected;
        #   hit(q)  = any occurrence of _gh(q) in the doc satisfies
        #             _sel == _gh — lifted from the occurrence to the
        #             VALUE by one (doc, value)-partition window max.
        # Both extra frames ride the existing (_wid, _pos) sort; the
        # only new exchange is the (doc, value) window — replacing the
        # distinct's exchange AND the join's two, and the subtree runs
        # once.
        wm = F.when(F.col("_pos") <= ng - w, F.min("_gh").over(wnd))
        back = (Window.partitionBy("_wid").orderBy("_pos")
                .rowsBetween(-(w - 1), 0))
        carry = ["_gcs", "_gce"] if char_offsets else []
        occ = (
            g.select("_wid", "_pos", "_gh", wm.alias("_wm"), *carry)
            .select("_wid", "_pos", "_gh",
                    (F.max("_wm").over(back) == F.col("_gh"))
                    .alias("_lsel"), *carry)
        )
        vw = Window.partitionBy("_wid", "_gh")
        ccols = ([F.col("_gcs").cast("long").alias("char_start"),
                  F.col("_gce").cast("long").alias("char_end")]
                 if char_offsets else [])
        return (
            occ.select(
                "_wid", "_pos", "_gh",
                F.max(F.when(F.col("_lsel"), 1).otherwise(0)).over(vw)
                .alias("_hit"), *carry)
            .filter(F.col("_hit") == 1)
            .select(F.col("_wid").alias(id_col),
                    F.col("_gh").alias("fingerprint"),
                    (F.col("_pos") + 1).cast("long").alias("pos"),
                    *ccols)
        )
    return (
        fps.groupBy("_wid", "_ng")
        .agg(F.count(F.lit(1)).alias("_nfp"))
        .select(
            F.col("_wid").alias(id_col),
            F.col("_ng").cast("long").alias("n_grams"),
            (F.col("_ng") - (w - 1)).cast("long").alias("n_windows"),
            F.col("_nfp").cast("long").alias("n_fingerprints"),
            F.round(F.col("_nfp").cast("double")
                    / (F.col("_ng") - (w - 1)), 6).alias("density"),
        )
    )


def remove_char_spans(
    df: DataFrame, spans: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", span_id_col: str = "id",
    start_col: str = "char_start", end_col: str = "char_end",
) -> DataFrame:
    """CUT character ranges out of documents — the consumption half of
    span-level dedup (winnow_overlap ``output="spans"`` reports WHERE
    the duplicated passage sits; this removes it, the Lee et al. 2022
    "Deduplicating Training Data" treatment where only the repeated
    substring is dropped, not the whole document).

    ``spans`` carries (span_id_col, start_col, end_col) rows of
    1-based INCLUSIVE codepoint ranges (the winnow span convention).
    Overlapping and adjacent ranges are merged first (the standard
    sorted sweep: a range joins the current island iff its start <=
    running max end + 1 — one window pass at span cardinality), merged
    ranges are clipped to the document, and the kept text is the
    ordered concatenation of the complement segments (plain substr —
    codepoint-based on both engines). Documents without spans pass
    through untouched.

    Scale shape: everything is span-cardinality until the single join
    against the document table (docs >> spans normally; AQE picks the
    side to broadcast); the reconstruction is one (id) aggregate whose
    per-group state is that document's segment list — bounded by its
    span count, never corpus-sized. Returns (id, text, n_spans_cut,
    chars_removed) for EVERY input document.
    """
    docs = df.select(F.col(id_col).alias("_rid"),
                     F.col(text_col).alias("_txt"),
                     F.length(text_col).alias("_len"))
    # DISTINCT is load-bearing, not an optimization: duplicate (s, e)
    # rows (one document duplicated against many partners emits the
    # same span once per pair) make ORDER BY (s, e) a NON-total order,
    # and the island flag and its running sum are TWO window passes —
    # an engine may feed them the tied rows in different physical
    # orders, so the nf=1 row can land after its duplicates in the
    # second pass and split one island in two (caught by the sf1
    # oracle sweep: DuckDB's inlined CTE copies disagreed with each
    # other run to run). With exact ranges deduped, (s, e) is unique
    # per id and both passes share one total order on every engine.
    # NULL bounds are dropped BEFORE the sweep, not tolerated: the
    # islanding windows ORDER BY (_s, _e) and engines disagree on NULL
    # placement (Spark sorts NULLS FIRST, DuckDB NULLS LAST), so a NULL
    # row would make the merged islands engine-dependent (r11 ADVICE).
    # Out-of-range/inverted bounds need no filter here — merge-then-
    # clip already handles them (the hypothesis property test covers
    # negative, oversized and inverted spans).
    rng = (spans.select(F.col(span_id_col).alias("_rid"),
                        F.col(start_col).cast("long").alias("_s"),
                        F.col(end_col).cast("long").alias("_e"))
           .filter(F.col("_s").isNotNull() & F.col("_e").isNotNull())
           .distinct())
    ow = Window.partitionBy("_rid").orderBy("_s", "_e")
    run = F.max("_e").over(ow.rowsBetween(Window.unboundedPreceding, -1))
    isl = (
        rng.select(
            "_rid", "_s", "_e",
            F.when(F.col("_s") > F.coalesce(run, F.lit(0)) + 1, 1)
            .otherwise(0).alias("_nf"))
        .select("_rid", "_s", "_e",
                F.sum("_nf").over(
                    ow.rowsBetween(Window.unboundedPreceding, 0))
                .alias("_g")))
    # plan-cache the merged intervals: FOUR consumers follow (gaps,
    # tails, stats, and pieces via gaps∪tails) and ``spans`` is often an
    # expensive subplan (winnow_cut feeds the whole span-alignment
    # pipeline in here) — uncached, every consumer re-executes it from
    # scratch (measured 4x the spans pipeline, ~52 s of the sf1
    # winnow_cut noop run; cached, the subplan runs once). Merged rows
    # are span-cardinality — narrow and small.
    merged = _plan_cache(
        isl.groupBy("_rid", "_g")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .join(docs.select("_rid", "_len"), "_rid")
        .select("_rid", F.greatest("_s", F.lit(1)).alias("_s"),
                F.least("_e", F.col("_len")).alias("_e"), "_len")
        .filter(F.col("_s") <= F.col("_e")))
    gw = Window.partitionBy("_rid").orderBy("_s")
    gaps = merged.select(
        "_rid",
        (F.coalesce(F.lag("_e").over(gw), F.lit(0)) + 1).alias("_gs"),
        (F.col("_s") - 1).alias("_ge"))
    tails = (
        merged.groupBy("_rid")
        .agg(F.max("_e").alias("_me"), F.max("_len").alias("_l"))
        .select("_rid", (F.col("_me") + 1).alias("_gs"),
                F.col("_l").alias("_ge")))
    pieces = (
        gaps.unionByName(tails)
        .filter(F.col("_gs") <= F.col("_ge"))
        .join(docs.select("_rid", "_txt"), "_rid")
        .select("_rid", "_gs",
                F.expr("substring(_txt, CAST(_gs AS INT), "
                       "CAST(_ge - _gs + 1 AS INT))").alias("_p")))
    rebuilt = (
        pieces.groupBy("_rid")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_gs", "_p"))),
                lambda s: s["_p"]), "").alias("_out")))
    stats = (
        merged.groupBy("_rid")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"),
             F.sum(F.col("_e") - F.col("_s") + 1)
             .cast("long").alias("_rm")))
    return (
        docs.join(rebuilt, "_rid", "left")
        .join(stats, "_rid", "left")
        .select(
            F.col("_rid").alias(id_col),
            # a fully-covered document has stats but no pieces -> ''
            F.coalesce(
                "_out",
                F.when(F.col("_n").isNotNull(), F.lit("")),
                F.col("_txt")).alias(text_col),
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_spans_cut"),
            F.coalesce("_rm", F.lit(0)).cast("long")
            .alias("chars_removed"))
    )


def _token_char_offsets(
    df: DataFrame, id_col: str, text_col: str,
) -> DataFrame:
    """Token -> character-offset map for the pinned ``[a-z']+``
    tokenizer over ascii_lower'd text: (_oid, _tp 1-based token
    position, _cs/_ce 1-based inclusive codepoint offsets into the
    ORIGINAL text — ascii_lower is a length-preserving character map).

    Relational shape: the SAME regex that extracts tokens also SPLITS
    the text into the separator pieces between them (n_tokens + 1
    pieces, leading/trailing empties kept identically by Java split
    with limit -1 and DuckDB regexp_split_to_array); interleave both
    by position key (sep_i at 2i, tok_n at 2n-1) and one running-sum
    window over the key gives every token's start offset — no
    per-character work, no UDFs.

    The interleave is done ARRAY-side (both length arrays zip into one
    (key, len) struct array per document) so the pipeline is ONE
    explode and no union: the first cut exploded tokens and separators
    separately and unioned the row sets, which re-executed the base
    projection — the tokenize regex AND the split regex — once per
    branch (two full regex passes over the corpus text, guide §2.4
    "duplicated subtrees"). arrays_zip pads the shorter side (tokens,
    n vs n+1) with NULL structs; the explode drops nothing because the
    filter on odd keys happens after the running sum, and a NULL token
    slot contributes length NULL only at the very end of the zip where
    no later row consumes it (see the _l IS NOT NULL guard).

    The zip is built behind a one-element explode (the module's
    pushdown-barrier idiom, see _ppjoin_pairs): InferFiltersFromGenerate
    puts a ``size(e) > 0 AND isnotnull(e)`` prefilter under the
    posexplode, and PushDownPredicate would substitute the _z alias
    into it — evaluating both regexes three times per document (seen
    in the plan: the zip expression verbatim inside Filter twice plus
    the Project). A generator output can't be pushed below its
    Generate, and the barrier's own inferred filter constant-folds away
    (size of a 1-element array literal), so each regex runs exactly
    once per document."""
    low = ascii_lower(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("_oid"),
        F.explode(F.array(F.arrays_zip(
            F.transform(F.split(low, r"[a-z']+"), F.length).alias("_sl"),
            F.transform(F.regexp_extract_all(low, F.lit(r"[a-z']+"), 0),
                        F.length).alias("_tl"),
        ))).alias("_z"))
    rows = base.select(
        "_oid", F.posexplode("_z").alias("_i0", "_p")
    ).select(
        "_oid", "_i0",
        F.explode(F.array(
            F.struct((F.col("_i0") * 2).alias("_k"),
                     F.col("_p._sl").alias("_l")),
            F.struct((F.col("_i0") * 2 + 1).alias("_k"),
                     F.col("_p._tl").alias("_l")),
        )).alias("_e")
    ).select("_oid", F.col("_e._k").alias("_k"), F.col("_e._l").alias("_l")
             ).filter(F.col("_l").isNotNull())
    wd = (Window.partitionBy("_oid").orderBy("_k")
          .rowsBetween(Window.unboundedPreceding, -1))
    return (
        rows
        .select("_oid", "_k", "_l",
                (F.coalesce(F.sum("_l").over(wd), F.lit(0)) + 1)
                .alias("_cs"))
        .filter(F.col("_k") % 2 == 1)
        .select("_oid", ((F.col("_k") + 1) / 2).cast("long").alias("_tp"),
                F.col("_cs").cast("long").alias("_cs"),
                (F.col("_cs") + F.col("_l") - 1).cast("long").alias("_ce"))
    )


def winnow_overlap(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 4, w: int = 4, min_shared: int = 2,
    max_fp_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    output: str = "stats", merge_gap: int | None = None,
) -> DataFrame:
    """MOSS-style overlap report from winnowing fingerprints: document
    pairs sharing >= ``min_shared`` distinct fingerprints, scored by
    containment = shared / min(|fps_a|, |fps_b|). By the winnowing
    guarantee a shared token run of length >= k + w - 1 always
    surfaces, so this catches partial plagiarism/quotation overlap
    that whole-document hashing misses, at a fraction of shingle-join
    cost (only ~2/(w+1) of grams become join keys).

    Scale guards mirror the shingle joins: fingerprints held by more
    than ``max_fp_df`` documents are dropped before the self-join (a
    boilerplate fingerprint at corpus scale is a quadratic hot key;
    real overlapping pairs share rare fingerprints too). The join is
    blocked per fingerprint — never a document cross product — and
    pair aggregation shuffles on (id_a, id_b), skew-safe under AQE.

    ``output="stats"`` (default) returns (id_a, id_b, shared_fps,
    containment), id_a < id_b.

    ``output="spans"`` (r10) completes the MOSS user story — WHERE the
    overlap sits, not just that it exists: matched fingerprint
    occurrences become anchors (id_a, id_b, a_pos, b_pos), anchors are
    grouped per DIAGONAL (b_pos - a_pos: a verbatim copied run keeps a
    constant diagonal, so alignment needs no dynamic programming), and
    runs on one diagonal whose consecutive anchors sit within
    ``merge_gap`` tokens (default ``k + w - 1``, the winnowing
    guarantee length — two selected grams of one shared run are never
    further apart) merge into one passage. Returns one row per aligned
    passage: (id_a, id_b, a_start, a_end, b_start, b_end, n_anchors,
    a_char_start, a_char_end, b_char_start, b_char_end) — token
    offsets 1-based inclusive, plus (r11) 1-based inclusive CODEPOINT
    offsets into the original text (ascii_lower is length-preserving,
    so lowered-text offsets ARE original-text offsets) so consumers
    (dedup removal, MOSS-style display) can cut passages without
    re-tokenizing. The char map comes from ONE split of the text on
    the token regex (separator pieces) interleaved with the tokens by
    position key and a single running-sum window pass at token
    cardinality; spans then look their four endpoints up against the
    plan-cached map. Cost on top of stats mode: the anchor join
    carries positions (occurrence-, not distinct-, cardinality), the
    passage merge is one window pass partitioned by (pair, diagonal),
    and the char lookups are four joins of span-cardinality rows
    against the token-cardinality map — all the same exchange class,
    skew-safe under AQE.
    """
    if output not in ("stats", "spans"):
        raise ValueError(
            f"output must be 'stats' or 'spans', got {output!r}")
    # Identical-TEXT grouping (_identical_groups, keyed by sha2(text)):
    # every downstream decision (fingerprint values, positions,
    # anchors, spans, char offsets) is a pure function of the text.
    # Cross pairs inherit the rep pair's row verbatim, with an
    # orientation swap in spans mode when member ids order opposite to
    # their reps'; pairs WITHIN a group share their whole fingerprint
    # set (containment 1.0) and, in spans mode, the rep's self-anchor
    # spans — both computed once per group from the rep alone. The
    # df-cap stays exact: a fingerprint's document frequency is the
    # SUM OF GROUP SIZES over the distinct texts holding it.
    mem = _identical_groups(
        df.select(id_col, F.sha2(F.col(text_col), 256).alias("_tk")),
        id_col, "_tk")
    gs = mem.groupBy("_rep").agg(F.count(F.lit(1)).alias("_gsz"))
    reps = df.join(_rep_rows(mem, F.col("_mid").alias(id_col)), id_col,
                   "semi")
    # The fingerprint table feeds FOUR consumers (df-cap, per-doc
    # counts, both self-join sides); uncached, each re-derives the
    # full gram-hash pass from the scan — cache it once (the module's
    # plan-cache lifecycle; ~2/(w+1) of gram cardinality, narrow rows).
    if output == "spans":
        # hits carry their gram's codepoint span (char_offsets=True,
        # r13): char endpoints then fall out of the SAME min/max
        # aggregation that computes the token endpoints — see the
        # passage-merge comment below — and the whole offset-map
        # machinery (a second full regex pass + a melt-join at span
        # cardinality) disappears.
        hits = _plan_cache(
            winnow_fingerprints(reps, id_col, text_col, k, w,
                                output="hits", char_offsets=True)
            .select(F.col(id_col).alias("_fid"), "fingerprint", "pos",
                    "char_start", "char_end"))
        fp = hits.select("_fid", "fingerprint").distinct()
    else:
        hits = None
        fp = _plan_cache(
            winnow_fingerprints(reps, id_col, text_col, k, w,
                                output="fps")
            .select(F.col(id_col).alias("_fid"), "fingerprint"))
    if max_fp_df is not None:
        hot = (
            fp.join(gs, fp["_fid"] == gs["_rep"])
            .groupBy("fingerprint")
            .agg(F.sum("_gsz").alias("_df"))
            .filter(F.col("_df") > max_fp_df).select("fingerprint"))
        fp = fp.join(hot, "fingerprint", "left_anti")
        if hits is not None:
            hits = hits.join(hot, "fingerprint", "left_anti")
    # per-rep post-cap distinct fingerprint count: containment
    # denominators (stats) and the min_shared gate on within-group
    # self pairs (both modes)
    nf = fp.groupBy("_fid").agg(F.count(F.lit(1)).alias("_nfp"))
    if output == "spans":
        gap = (k + w - 1) if merge_gap is None else merge_gap
        ha = hits.select(F.col("_fid").alias("id_a"), "fingerprint",
                         F.col("pos").alias("_pa"),
                         F.col("char_start").alias("_acs"),
                         F.col("char_end").alias("_ace"))
        hb = hits.select(F.col("_fid").alias("id_b"), "fingerprint",
                         F.col("pos").alias("_pb"),
                         F.col("char_start").alias("_bcs"),
                         F.col("char_end").alias("_bce"))
        # no DISTINCT: anchor rows are unique by construction — ``hits``
        # has one row per (doc, pos) and the fingerprint VALUE is a
        # function of (doc, pos), so the fingerprint equi-join emits each
        # (id_a, _pa, id_b, _pb) combination exactly once (a full
        # exchange + aggregate at anchor cardinality, measured 4.8 s of
        # the sf1 noop run, bought nothing — r12, guide §2.4 "a distinct
        # on data that is already unique")
        # min_shared gate folded into the anchor exchange (r13, guide
        # §2.4): the anchor rows already contain every shared
        # fingerprint VALUE of a pair (each with >= 1 occurrence per
        # side), so the pair's distinct-shared count is a dense_rank
        # max over the anchors themselves — two window passes on ONE
        # (id_a, id_b) exchange, replacing the fp self-join + count
        # aggregate + semi-join broadcast the stats path uses (three
        # exchanges + a broadcast, all at fingerprint/pair
        # cardinality, that spans mode paid on top of the anchor
        # join).
        pw = Window.partitionBy("id_a", "id_b")
        cross_anchors = (
            ha.join(hb, "fingerprint")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("_dr",
                        F.dense_rank().over(pw.orderBy("fingerprint")))
            .withColumn("_ndv", F.max("_dr").over(pw))
            .filter(F.col("_ndv") >= min_shared)
            .select("id_a", "id_b", "_pa", "_pb",
                    "_acs", "_ace", "_bcs", "_bce"))
        # WITHIN-group pairs have identical texts, so their span set is
        # the rep's SELF-anchor structure (all position combinations of
        # each selected value — exactly what the member-level
        # fingerprint join produced for two identical docs), computed
        # once per group with >= 2 members whose rep meets min_shared.
        selfdocs = (
            nf.filter(F.col("_nfp") >= min_shared).select("_fid")
            .join(gs.filter(F.col("_gsz") >= 2)
                  .select(F.col("_rep").alias("_fid")), "_fid", "semi"))
        sh = hits.join(selfdocs, "_fid", "semi")
        self_anchors = (
            sh.select("_fid", "fingerprint", F.col("pos").alias("_pa"),
                      F.col("char_start").alias("_acs"),
                      F.col("char_end").alias("_ace"))
            .join(sh.select("_fid", "fingerprint",
                            F.col("pos").alias("_pb"),
                            F.col("char_start").alias("_bcs"),
                            F.col("char_end").alias("_bce")),
                  ["_fid", "fingerprint"])
            .select(F.col("_fid").alias("id_a"),
                    F.col("_fid").alias("id_b"), "_pa", "_pb",
                    "_acs", "_ace", "_bcs", "_bce"))
        anchors = (
            cross_anchors.unionByName(self_anchors)
            .withColumn("_diag", F.col("_pb") - F.col("_pa")))
        wp = Window.partitionBy("id_a", "id_b", "_diag").orderBy("_pa")
        flagged = anchors.withColumn(
            "_new", F.when(
                F.col("_pa") - F.lag("_pa").over(wp) > gap, 1).otherwise(0))
        isl = flagged.withColumn(
            "_isl", F.sum("_new").over(
                wp.rowsBetween(Window.unboundedPreceding, 0)))
        # char endpoints aggregate with the token endpoints (r13):
        # within one (pair, diagonal, island) group, anchor char
        # offsets are CO-MONOTONE with anchor token positions (a
        # token's char start/end strictly increases with its
        # position), so min(_acs) is exactly the char start of the
        # min-_pa anchor's gram — the offset the old melt-join looked
        # up for a_start — and max(_ace) is the char end of token
        # a_end = max(_pa) + k - 1 (the hit's char_end IS its gram's
        # last-token end). Same for the b side (positions shift by
        # the constant _diag). Every span's endpoints resolve by
        # construction — they're carried on the anchors themselves —
        # so the melt-join's _nm == 4 guard is vacuous and gone.
        rep_spans = (
            isl.groupBy("id_a", "id_b", "_diag", "_isl")
            .agg(F.min("_pa").alias("_s"), F.max("_pa").alias("_e"),
                 F.count(F.lit(1)).alias("_n"),
                 F.min("_acs").alias("a_char_start"),
                 F.max("_ace").alias("a_char_end"),
                 F.min("_bcs").alias("b_char_start"),
                 F.max("_bce").alias("b_char_end"))
            .select(
                "id_a", "id_b",
                F.col("_s").cast("long").alias("a_start"),
                (F.col("_e") + (k - 1)).cast("long").alias("a_end"),
                (F.col("_s") + F.col("_diag")).cast("long").alias("b_start"),
                (F.col("_e") + (k - 1) + F.col("_diag")).cast("long")
                .alias("b_end"),
                F.col("_n").cast("long").alias("n_anchors"),
                "a_char_start", "a_char_end",
                "b_char_start", "b_char_end"))
        # expand rep rows to member pairs: self rows (id_a == id_b)
        # fan out to each within-group pair once (_xa < _xb; the self
        # span set is symmetric under a/b exchange, so no swap is ever
        # needed), cross rows to every member combination, swapping
        # the a/b column groups when the member ids order opposite to
        # their reps' (the span columns are side-specific; identical
        # texts make the swapped row exactly the member pair's)
        ga = mem.select(F.col("_rep").alias("id_a"),
                        F.col("_mid").alias("_xa"))
        gb = mem.select(F.col("_rep").alias("id_b"),
                        F.col("_mid").alias("_xb"))
        ex = (
            rep_spans.join(ga, "id_a").join(gb, "id_b")
            .filter((F.col("id_a") != F.col("id_b"))
                    | (F.col("_xa") < F.col("_xb"))))
        sw = F.col("_xa") > F.col("_xb")

        def _side(fwd: str, rev: str) -> Column:
            return F.when(sw, F.col(rev)).otherwise(F.col(fwd)).alias(fwd)

        return ex.select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
            _side("a_start", "b_start"), _side("a_end", "b_end"),
            _side("b_start", "a_start"), _side("b_end", "a_end"),
            "n_anchors",
            _side("a_char_start", "b_char_start"),
            _side("a_char_end", "b_char_end"),
            _side("b_char_start", "a_char_start"),
            _side("b_char_end", "a_char_end"))
    a = fp.select(F.col("_fid").alias("id_a"), "fingerprint")
    b = fp.select(F.col("_fid").alias("id_b"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("_sh"))
        .filter(F.col("_sh") >= min_shared))
    na = nf.select(F.col("_fid").alias("id_a"), F.col("_nfp").alias("_na"))
    nb = nf.select(F.col("_fid").alias("id_b"), F.col("_nfp").alias("_nb"))
    rep_stats = (
        pairs.join(na, "id_a").join(nb, "id_b")
        .select("id_a", "id_b",
                F.col("_sh").cast("long").alias("shared_fps"),
                F.round(F.col("_sh").cast("double")
                        / F.least("_na", "_nb"), 6).alias("containment")))
    # cross pairs: stats columns are symmetric, so only the id order
    # needs normalizing. Within-group pairs share their WHOLE post-cap
    # fingerprint set: shared = |set| (gated by min_shared),
    # containment = 1.0 exactly (round(n/n, 6)); groups whose rep has
    # no fingerprints have no nf row and correctly emit nothing
    q = nf.filter(F.col("_nfp") >= min_shared).select(
        F.col("_fid").alias("_rep"), "_nfp")
    within = (
        _within_pairs(mem).join(q, "_rep")
        .select("id_a", "id_b",
                F.col("_nfp").cast("long").alias("shared_fps"),
                F.lit(1.0).alias("containment")))
    return _cross_pairs(rep_stats, mem, "shared_fps",
                        "containment").unionByName(within)


# ---------------------------------------------------------------------------
# Persisted winnow fingerprint index — incremental span-overlap probing
# ---------------------------------------------------------------------------

def winnow_index_build(
    corpus: DataFrame, path: str, id_col: str = "doc_id",
    text_col: str = "text", k: int = 4, w: int = 4,
) -> None:
    """Persist the corpus's winnow fingerprint OCCURRENCES — (id,
    fingerprint, pos) in the ``hits`` form `winnow_overlap(output=
    "spans")` aligns from — plus a meta file pinning (k, w). This is
    the state INCREMENTAL span-dedup probes against (`winnow_probe`):
    a daily crawl asks "which existing documents does each NEW page
    overlap, and where?" without re-tokenizing or re-fingerprinting
    the 100 TB history. The index stores no text; positions are
    1-based token offsets (the module's convention), so probe results
    compose directly with span-cardinality consumers. Probes MUST
    fingerprint with the same (k, w) or values/windows are
    meaningless — hence the pinned meta (lsh_index_build doctrine)."""
    import json
    import os

    hits = winnow_fingerprints(corpus, id_col, text_col, k, w,
                               output="hits")
    hits.write.mode("overwrite").parquet(path + "/hits")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump({"k": k, "w": w, "id_col": id_col}, fh)


def winnow_probe(
    spark, path: str, new_docs: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", min_shared: int = 2,
    max_fp_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    output: str = "stats", merge_gap: int | None = None,
) -> DataFrame:
    """Span-overlap check of a NEW document batch against a persisted
    winnow fingerprint index (`winnow_index_build`) — the incremental
    half of MOSS-style span dedup: only the DELTA is tokenized and
    fingerprinted; the corpus side is the stored (id, fingerprint,
    pos) table, so cost is O(new docs) + fingerprint-blocked joins
    against index rows, never a corpus rescan. New/corpus id
    namespaces are assumed disjoint (the daily-crawl contract) — no
    self-pair filtering is applied.

    Fingerprints held by more than ``max_fp_df`` CORPUS documents are
    dropped on both sides before joining (the boilerplate hot-key
    guard, df computed from the index alone — a probe can't see
    future corpus df anyway).

    ``output="stats"``: (corpus_id, new_id, shared_fps, containment)
    with containment = shared / min(|fps_corpus|, |fps_new|) over the
    capped fingerprint sets (winnow_overlap semantics).

    ``output="spans"``: aligned passages per (pair, diagonal) — the
    winnow_overlap span merge (anchors on one diagonal within
    ``merge_gap`` tokens, default k + w - 1, form one passage):
    (corpus_id, new_id, a_start, a_end, b_start, b_end, n_anchors),
    a = corpus side, b = new side, 1-based inclusive token offsets.
    Char offsets are deliberately absent: computing them for the
    corpus side would require re-reading corpus text — exactly what
    the index exists to avoid. Token spans + the stored positions are
    enough to decide and cut (`remove_char_spans` on the NEW side uses
    the new docs' own offsets via winnow_overlap on the pair subset).
    """
    import json
    import os

    if output not in ("stats", "spans"):
        raise ValueError(
            f"output must be 'stats' or 'spans', got {output!r}")
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    k, w = int(meta["k"]), int(meta["w"])
    stored_id = meta.get("id_col", "doc_id")
    idx = _plan_cache(spark.read.parquet(path + "/hits").select(
        F.col(stored_id).alias("_cid"), "fingerprint",
        F.col("pos").alias("_pa")))
    new_hits = _plan_cache(
        winnow_fingerprints(new_docs, id_col, text_col, k, w,
                            output="hits")
        .select(F.col(id_col).alias("_nid"), "fingerprint",
                F.col("pos").alias("_pb")))
    cfp = idx.select("_cid", "fingerprint").distinct()
    nfp = new_hits.select("_nid", "fingerprint").distinct()
    if max_fp_df is not None:
        hot = (cfp.groupBy("fingerprint")
               .agg(F.count(F.lit(1)).alias("_df"))
               .filter(F.col("_df") > max_fp_df).select("fingerprint"))
        cfp = cfp.join(hot, "fingerprint", "left_anti")
        nfp = nfp.join(hot, "fingerprint", "left_anti")
        idx = idx.join(hot, "fingerprint", "left_anti")
        new_hits = new_hits.join(hot, "fingerprint", "left_anti")
    pairs = (
        cfp.join(nfp, "fingerprint")
        .groupBy("_cid", "_nid").agg(F.count(F.lit(1)).alias("_sh"))
        .filter(F.col("_sh") >= min_shared))
    if output == "stats":
        na = cfp.groupBy("_cid").agg(F.count(F.lit(1)).alias("_na"))
        nb = nfp.groupBy("_nid").agg(F.count(F.lit(1)).alias("_nb"))
        return (
            pairs.join(na, "_cid").join(nb, "_nid")
            .select(F.col("_cid").alias("corpus_id"),
                    F.col("_nid").alias("new_id"),
                    F.col("_sh").cast("long").alias("shared_fps"),
                    F.round(F.col("_sh").cast("double")
                            / F.least("_na", "_nb"), 6)
                    .alias("containment")))
    gap = (k + w - 1) if merge_gap is None else merge_gap
    # no DISTINCT: unique by construction, as in winnow_overlap — one
    # hits row per (doc, pos), fingerprint value a function of (doc,
    # pos), so the equi-join emits each position pair exactly once
    anchors = (
        idx.join(new_hits, "fingerprint")
        .join(pairs.select("_cid", "_nid"), ["_cid", "_nid"], "left_semi")
        .select("_cid", "_nid", "_pa", "_pb")
        .withColumn("_diag", F.col("_pb") - F.col("_pa")))
    wp = Window.partitionBy("_cid", "_nid", "_diag").orderBy("_pa")
    flagged = anchors.withColumn(
        "_new", F.when(
            F.col("_pa") - F.lag("_pa").over(wp) > gap, 1).otherwise(0))
    isl = flagged.withColumn(
        "_isl", F.sum("_new").over(
            wp.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        isl.groupBy("_cid", "_nid", "_diag", "_isl")
        .agg(F.min("_pa").alias("_s"), F.max("_pa").alias("_e"),
             F.count(F.lit(1)).alias("_n"))
        .select(
            F.col("_cid").alias("corpus_id"),
            F.col("_nid").alias("new_id"),
            F.col("_s").cast("long").alias("a_start"),
            (F.col("_e") + (k - 1)).cast("long").alias("a_end"),
            (F.col("_s") + F.col("_diag")).cast("long").alias("b_start"),
            (F.col("_e") + (k - 1) + F.col("_diag")).cast("long")
            .alias("b_end"),
            F.col("_n").cast("long").alias("n_anchors")))
