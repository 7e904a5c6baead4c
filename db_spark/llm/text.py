"""Text analysis operators over document tables.

All operators are pure Column expressions (JVM-side, whole-stage
codegen) — no Python UDFs — so they run at full scan throughput on any
cluster size. Deterministic by construction: md5-based fingerprints,
integer-arithmetic ratios.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from db_spark.functions import ascii_lower
from db_spark.plans import _analyzed_has_node

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + ASCII so the same heuristic is
# expressible in any SQL dialect for oracle checks.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "mit", "den", "von"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "dans", "que"],
    "es": ["el", "la", "de", "que", "los", "un", "una", "es", "en", "por"],
}

_WORD_RE = r"[a-zA-Z']+"
# BPE-ish token regex: word pieces, numbers, or single non-space symbols
# \s expanded to the explicit Java set: inside a class, Java \s
# includes \x0B but RE2 \s does not — the explicit class is read
# identically by both (r8 oracle-risk audit).
_BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\x0B\f\r]"


def tokens(text: Column) -> Column:
    """Whitespace-free word extraction (robust to repeated separators)."""
    return F.regexp_extract_all(text, F.lit(_WORD_RE), 0)


def spread_scan(df: DataFrame, *cols) -> DataFrame:
    """Spread a SMALL file scan across every core before CPU-heavy
    per-row work (tokenizer regexes, gram hashing) — the one spread
    gate every call site uses (r13, guide §2.6/§8): the testdata
    tables are single-row-group files, so a regex-heavy map stage
    otherwise runs on 1-2 tasks of a 32-core executor, and AQE cannot
    help (there is no exchange to re-plan below the scan). Gated so it
    is a NO-OP at scale: only fires when the scan has fewer files than
    defaultParallelism (a real corpus has more splits than cores —
    repartitioning there would only add an exchange), and only on
    plans whose input files are knowable (inputFiles() is best-effort
    and returns [] on non-scan plans — treated as unknown, left
    alone). Round-robin repartition is retry-safe (sort-before-
    repartition is on by default) and the downstream per-row work is
    partition-independent. Measured A/B (sf0.1, same load): span_dup
    5.6 -> 1.9 s, classifier_score 2.4 -> 1.6 s, simhash grouped
    11.8 -> 6.7 s."""
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - exotic plans; spreading is optional
        return df
    if not (0 < len(files) < par):
        return df
    try:
        # skip plans that already pass through an exchange below this
        # point (r13): an upstream aggregate / join / distinct / window /
        # repartition means the rows arrive at shuffle-partition
        # parallelism already, and respreading would only add an
        # exchange (seen when a sketch builder is fed a post-distinct
        # key table, or a spread scan feeds a second spread call site)
        if _analyzed_has_node(df, ("Repartition", "Aggregate", "Join",
                                   "Window", "Deduplicate", "Sort")):
            return df
    except Exception:  # noqa: BLE001 - plan introspection is best-effort
        pass
    if cols:
        # hash-repartition on deterministic caller-chosen columns: skips
        # round-robin's sort-before-repartition pass (~2x cheaper on a
        # 600k-row spread, measured) and is retry-safe by construction.
        # Callers pick columns with far more distinct values than cores
        # (join keys, tokens) so the hash spreads evenly (guide §2.5).
        return df.repartition(par, *cols)
    return df.repartition(par)


def stage_expr(df: DataFrame, keep: list, expr: Column, alias: str) -> DataFrame:
    """Materialize ``expr`` as a real per-row column behind a one-element
    explode (Generate) BARRIER, so downstream references read an
    attribute instead of re-evaluating the expression tree.

    A plain ``select`` boundary is NOT enough: CollapseProject merges
    adjacent Projects and substitutes the alias's expression into every
    reference, and its duplicate-expensive-expression guard does not
    count references inside higher-order-function lambda bodies — so a
    tokenizer regex staged through a select and then referenced by the
    n ``element_at`` calls of a gram lambda is re-run n times per array
    element (observed: 30 ``regexp_extract_all`` copies in span_dup's
    optimized plan, one full-text regex scan per gram element). A
    generator output cannot be substituted below its Generate, and the
    barrier's own inferred filter (``size(array(e)) > 0``) constant-
    folds away, so ``expr`` is evaluated exactly once per row.

    ``keep`` columns pass through unchanged; filters on them still push
    below the Generate (only generator-output predicates are blocked).
    """
    return df.select(*keep, F.explode(F.array(expr)).alias(alias))


def token_count(text: Column) -> Column:
    """Whitespace word count."""
    return F.size(tokens(text)).cast("long")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space; 0.0 for
    empty (and NULL) text — the guard matters under ANSI mode, where an
    unguarded 0/0 is a runtime error, not a NaN."""
    punct = F.length(F.regexp_replace(text, r"[a-zA-Z0-9 \t\n\x0B\f\r]", ""))
    return (F.when(F.length(text) > 0,
                   punct.cast("double") / F.length(text).cast("double"))
            .otherwise(F.lit(0.0)))


def stopword_count(text: Column, lang: str = "en") -> Column:
    toks = F.transform(tokens(text), lambda t: F.lower(t))
    sw = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(sw))).cast("long")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    n = token_count(text)
    return F.when(n > 0, stopword_count(text, lang).cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def avg_word_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    n = F.size(toks)
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards stopword presence
    and typical word lengths, penalizes punctuation density and extreme
    shortness. Deterministic rational arithmetic."""
    n = token_count(text)
    len_score = F.least(n.cast("double") / F.lit(20.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.least(sw * 4.0, F.lit(1.0))
    p = punct_ratio(text)
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - p * 4.0)
    return (len_score * 0.4 + sw_score * 0.3 + punct_penalty * 0.3)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (The rolling-hash variant is shingle_hashes in dedup.py.)"""
    normalized = ascii_lower(
        F.trim(F.regexp_replace(text, r"[ \t\n\x0B\f\r]+", " ")))
    return F.md5(normalized)


#: Text-normalization rewrite rules, applied IN ORDER (later rules see
#: earlier output: CRLF folds before blank-line collapsing, unicode
#: spaces become ASCII spaces before space-run collapsing). Patterns
#: stay in the Java-regex/RE2 shared subset: unicode punctuation as
#: literal characters, control/whitespace as \x/\t/\r/\n PATTERN
#: escapes (interpreted identically by Java regex and RE2, and safe to
#: embed in a SQL literal — a raw NUL byte would not be), so Spark and
#: a SQL oracle rewrite byte-identically. Replacement strings carry
#: REAL newline characters (RE2 rewrites interpret only \0-\9). The standard corpus
#: pre-cleaning pass: curly quotes/dashes/ellipsis to ASCII,
#: zero-width and control characters out, whitespace canonicalized
#: with paragraph breaks preserved.
NORMALIZATION_RULES: list[tuple[str, str]] = [
    ("[\u2018\u2019\u201a\u201b]", "'"),         # curly single quotes
    ('[\u201c\u201d\u201e\u201f]', '"'),         # curly double quotes
    ("[\u2013\u2014\u2015]", "-"),                # en/em/horizontal dashes
    ("\u2026", "..."),                              # ellipsis
    ("[\u00a0\u2000-\u200a\u202f\u205f\u3000]", " "),  # unicode spaces
    ("[\u200b-\u200d\u2060\ufeff]", ""),         # zero-width / joiners
    (r"\r\n|\r", "\n"),                            # CRLF / CR -> LF
    (r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", ""),  # control chars
    (r"[ \t]+", " "),                               # space/tab runs
    (r" ?\n ?", "\n"),                             # trim around newlines
    (r"\n{3,}", "\n\n"),                           # >=3 newlines -> blank line
]


def normalize_text(text: Column) -> Column:
    """Canonicalize raw scraped text via :data:`NORMALIZATION_RULES` —
    map-only Column expression, one regexp_replace per rule, no UDF.
    Paragraph structure (single blank lines) survives; everything else
    about whitespace and typographic punctuation is canonical ASCII.
    Leading/trailing whitespace is trimmed last."""
    out = text
    for pat, repl in NORMALIZATION_RULES:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


#: PII patterns, applied in this order (earlier rewrites can't create
#: later matches; SSN before phone so 123-45-6789 is never half-eaten).
#: Kept to the regex subset shared by Java regex and RE2 (ASCII classes,
#: bounded repeats, \b) so an oracle engine matches byte-identically.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IPV4]"),
]


def pii_counts(text: Column) -> Column:
    """Struct of per-category PII match counts (email, ssn, phone, ipv4)
    on the raw text — the audit half of a scrubbing pass. Counts are
    taken before any rewrite, so categories don't steal each other's
    matches; scan-speed Column expressions."""
    return F.struct(*[
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ])


def redact_pii(text: Column) -> Column:
    """Replace PII matches with typed placeholder tokens ([EMAIL], [SSN],
    [PHONE], [IPV4]), in PII_PATTERNS order. Map-only: redacting 100 TB
    is a single scan with no shuffle."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def chunk_documents(
    df: DataFrame, chunk_tokens: int = 64, overlap: int = 16,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the unit a
    training pipeline feeds to a tokenizer/packer. Returns one row per
    chunk: (id, chunk_id, n_tokens, chunk_text).

    Chunk k covers tokens [k*stride, k*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the trailing partial chunk is kept.
    Pure Column expressions (tokenize -> sequence -> slice -> explode):
    narrow transforms only, no shuffle, no Python — chunking 100 TB is a
    map-only job. Empty documents produce no chunks."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # chunk ids 0..floor((n-1)/stride); empty arrays for empty docs
    ids = F.when(n > 0, F.sequence(
        F.lit(0), F.floor((n - 1) / F.lit(stride)).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"),
        F.explode(ids).alias("chunk_id"))
    # slice staged once; referencing it from both outputs would cut the
    # window out of the token array twice per chunk
    staged = exploded.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1,
                chunk_tokens).alias("_piece"),
    )
    return staged.select(
        id_col,
        "chunk_id",
        F.size("_piece").cast("long").alias("n_tokens"),
        F.array_join(F.col("_piece"), " ").alias("chunk_text"),
    )


def ngrams(text: Column, n: int = 2) -> Column:
    """All word n-grams (non-distinct, in order) of the lowercased word
    stream — the multiset repetition analysis needs; compare
    ``dedup.shingles`` which dedups."""
    toks = F.regexp_extract_all(ascii_lower(text), F.lit(r"[a-z']+"), 0)
    count = F.size(toks) - (n - 1)
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )


def _grams_of(toks: Column, n: int) -> Column:
    """n-grams from an ALREADY-MATERIALIZED token array column."""
    count = F.size(toks) - (n - 1)
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style within-document repetition signals, map-only.

    Per document: fraction of duplicate 2-grams / 3-grams (1 −
    distinct/total) and the share of the single most frequent 2-gram.
    Pure array expressions — no explode, no shuffle: repetition-filtering
    100 TB is a single scan. The most-frequent count is an O(d·n) array
    fold per row (d = distinct grams), fine at document sizes.

    Evaluation shape matters here: Spark does NOT eliminate common
    subexpressions inside nested lambda functions, so the token and gram
    arrays are staged through projection boundaries — each is computed
    once per row; referencing the regexp/transform trees directly inside
    the fold would re-run them per distinct gram (O(d·n) regexp scans
    per document — a 100x slowdown observed at sf0.1)."""
    toks = F.regexp_extract_all(ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)
    t = df.select(F.col(id_col), toks.alias("_toks"))
    g = t.select(
        id_col,
        _grams_of(F.col("_toks"), 2).alias("_g2"),
        _grams_of(F.col("_toks"), 3).alias("_g3"),
    )
    d = g.select(
        id_col, "_g2", "_g3",
        F.array_distinct(F.col("_g2")).alias("_d2"),
        F.array_distinct(F.col("_g3")).alias("_d3"),
    )

    def dup_frac(g_col, d_col):
        n = F.size(g_col)
        return F.when(
            n > 0,
            F.round((n - F.size(d_col)).cast("double") / n, 6),
        ).otherwise(F.lit(0.0))

    g2, g3, d2, d3 = F.col("_g2"), F.col("_g3"), F.col("_d2"), F.col("_d3")
    # top multiplicity as max run length over the sorted gram array —
    # O(n log n) per row vs the O(d*n) count-each-distinct fold (~10x
    # at ~50-token documents, more on longer ones)
    run_state = F.aggregate(
        F.array_sort(g2),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
    )
    top_cnt = run_state.getField("best")
    top_frac = F.when(
        F.size(g2) > 0, F.round(top_cnt.cast("double") / F.size(g2), 6)
    ).otherwise(F.lit(0.0))
    return d.select(
        F.col(id_col),
        F.size(g2).cast("long").alias("n_2grams"),
        dup_frac(g2, d2).alias("dup_2gram_frac"),
        dup_frac(g3, d3).alias("dup_3gram_frac"),
        top_frac.alias("top_2gram_frac"),
    )


def unigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Quantized unigram-LM surprisal — a deterministic perplexity proxy
    for corpus quality scoring. Pass 1 builds the corpus unigram model
    (token → count, one hash agg); pass 2 scores each document by the
    integer surprisal floor(log2(N / count(token))) per token, i.e. the
    whole-bit information content under the unigram model. Integer-only
    (bit-length, exact sums), so the score is bit-reproducible on any
    engine — no libm in the hot path. Vocabulary is tiny vs corpus
    (Heaps' law): the model join is a broadcast at any corpus size.

    Returns (id, n_tokens, sum_bits, avg_bits): high avg_bits = rare
    tokens (higher surprisal); 0 bits = the most common tokens."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(ascii_lower(F.col(text_col)))).alias("_tk"))
    # the model is vocab-sized (Heaps' law: ~ corpus^0.5, never corpus-
    # sized) and referenced twice (scoring join + grand total) — cache it
    # so the corpus is scanned exactly twice (the two-pass minimum), not
    # once per reference
    model = tok.groupBy("_tk").agg(F.count(F.lit(1)).alias("_cnt")).cache()
    total = model.agg(F.sum("_cnt").alias("_N"))  # 1 row — broadcast, stays lazy
    # floor(log2(x)) for x >= 1 as length(bin(x)) - 1: integer-exact
    bits = (F.length(F.bin(F.floor(F.col("_N") / F.col("_cnt")).cast("long"))) - 1)
    scored = (
        tok.join(F.broadcast(model), "_tk")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), bits.cast("long").alias("_bits"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("_bits").alias("sum_bits"),
        F.round(F.sum("_bits").cast("double") / F.count(F.lit(1)), 6).alias("avg_bits"),
    )


def bigram_surprisal(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Quantized bigram-LM surprisal — the conditional-context upgrade
    of :func:`unigram_surprisal`: pass 1 builds the corpus bigram model,
    pass 2 scores every in-document bigram by the whole-bit conditional
    information floor(log2(count(prev) / count(prev, cur))) =
    floor(-log2 P(cur | prev)) under the empirical model. Scoring the
    same corpus the model was built from means every scored bigram
    exists in the model, so no smoothing enters the exact path; bits
    use integer bin-length, bit-reproducible on any engine.

    Scale shape: bigram extraction is MAP-ONLY (an in-row transform
    over adjacent token pairs — no positional self-join); the model is
    one hash agg over the bigram stream; the per-bigram bit cost is
    computed MODEL-SIDE (one context-keyed join of the bigram model
    against the prev-token totals — model-sized, not corpus-sized), so
    each distinct bigram's log is taken once, not once per occurrence.
    The scoring join is left to AQE: the bigram vocabulary grows ~
    corpus^0.7 (Heaps-squared), broadcastable for mid corpora but not
    unconditionally at 100 TB, unlike the unigram model. Documents with
    < 2 tokens contribute nothing. Returns (id, n_bigrams, sum_bits,
    avg_bits)."""
    # explode-barrier staging (stage_expr): the select boundary is
    # collapsed and the regex lands inside the pair-building lambda
    # (2 evaluations per bigram position) plus the size() filter —
    # 8 copies in the pre-r12 optimized plan. spread_scan (r13): the
    # tokenize + bigram explode otherwise runs at single-file scan
    # parallelism, twice (model + scoring pass) — gated no-op at scale.
    d = stage_expr(
        spread_scan(df, id_col), [F.col(id_col)],
        tokens(ascii_lower(F.col(text_col))), "_tk"
    ).filter(F.size("_tk") >= 2)
    bg = d.select(
        F.col(id_col),
        F.explode(F.expr(
            "transform(sequence(2, size(_tk)), "
            "i -> struct(_tk[i-2] AS p, _tk[i-1] AS c))")).alias("_b"),
    ).select(id_col, F.col("_b.p").alias("_p"), F.col("_b.c").alias("_c"))
    # referenced twice (context totals + the bits join): cache so the
    # corpus is tokenized exactly twice (two-pass minimum)
    bmodel = bg.groupBy("_p", "_c").agg(
        F.count(F.lit(1)).cast("long").alias("_bc")).cache()
    cmodel = bmodel.groupBy("_p").agg(F.sum("_bc").alias("_pc"))
    model = bmodel.join(cmodel, "_p").select(
        "_p", "_c",
        (F.length(F.bin(F.expr("_pc div _bc"))) - 1)
        .cast("long").alias("_bits"))
    scored = bg.join(model, ["_p", "_c"])
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("_bits").alias("sum_bits"),
        F.round(F.sum("_bits").cast("double") / F.count(F.lit(1)), 6)
        .alias("avg_bits"),
    )


def pack_sequences(
    chunks: DataFrame, capacity: int = 256, shards: int | None = None,
    id_col: str = "doc_id", chunk_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Concat-and-split sequence packing — assign token chunks to
    fixed-capacity training sequences, GPT-pretraining style: within a
    shard, chunks are laid head-to-tail in (doc, chunk) order and a chunk
    belongs to the pack where its first token lands (pack = cumulative
    offset // capacity).

    Sharding bounds the sequential region: the running offset is a window
    cumsum partitioned by ``shard = doc_id % shards`` — each shard packs
    independently in parallel. ``shards`` defaults to the cluster's
    ``defaultParallelism`` so packing parallelism scales with the
    cluster instead of capping at a constant (a fixed 32 would mean
    ~3 TB per reducer at 100 TB). Contract: the (shard, pack_id)
    assignment depends on ``shards`` — pin it explicitly when outputs
    must be reproducible across differently-sized clusters; for a fixed
    ``shards`` the result is deterministic and invariant to input
    partitioning. Returns one row per pack:
    (shard, pack_id, n_chunks, n_tokens)."""
    from pyspark.sql import Window

    if shards is None:
        shards = chunks.sparkSession.sparkContext.defaultParallelism
    shard = (F.col(id_col) % shards).cast("long")
    w = (Window.partitionBy("shard")
         .orderBy(F.col(id_col), F.col(chunk_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    laid = chunks.select(
        shard.alias("shard"), F.col(id_col), F.col(chunk_col),
        F.col(tokens_col).alias("_n"),
    ).withColumn("_end", F.sum("_n").over(w))
    pack = F.floor((F.col("_end") - F.col("_n")) / capacity).cast("long")
    return (
        laid.withColumn("pack_id", pack)
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("_n").cast("long").alias("n_tokens"),
        )
    )


def collocations(
    df: DataFrame, text_col: str = "text", min_count: int = 5, k: int = 50,
) -> DataFrame:
    """Top-k collocations: adjacent token pairs ranked by exponentiated
    PMI — ratio = p(ab) / (p(a)·p(b)) — with a minimum pair count.
    The ratio is reported instead of its log so the value is a fixed
    chain of IEEE divides/multiplies (bit-identical on any engine);
    log-PMI ordering is the same since log is monotone.

    Shape at 100 TB: one token explode (corpus cardinality) feeding two
    hash aggregations (unigram + bigram counts), then two joins keyed by
    word — vocabulary cardinality, not corpus. min_count prunes the
    bigram tail before the joins; top-k is a rank over the survivors.
    Returns (bigram, pair_count, ratio, rank)."""
    toks = F.regexp_extract_all(
        ascii_lower(F.col(text_col)), F.lit(r"[a-z']+"), 0)
    # explode-barrier staging (stage_expr): CollapseProject would inline
    # the regex into the bigram lambda (2 evaluations per gram) and into
    # the size() passes — 11 copies in the pre-r12 optimized plan.
    # spread_scan (r13): three aggregate consumers re-run the tokenize
    # at single-file scan parallelism otherwise — gated no-op at scale.
    t = stage_expr(spread_scan(df), [], toks, "_toks")
    uni = (
        t.select(F.explode("_toks").alias("_w"))
        .groupBy("_w").agg(F.count(F.lit(1)).alias("_cw"))
    )
    n_uni = uni.agg(F.sum("_cw").alias("_nu"))
    bi = (
        t.select(F.explode(_grams_of(F.col("_toks"), 2)).alias("bigram"))
        .groupBy("bigram").agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    n_bi = (
        t.select((F.greatest(F.size("_toks") - 1, F.lit(0))).alias("_n"))
        .agg(F.sum("_n").alias("_nb"))
    )
    split = bi.select(
        "bigram", "pair_count",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("_w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("_w2"),
    )
    joined = (
        split.join(uni.select(F.col("_w").alias("_w1"),
                              F.col("_cw").alias("_ca")), "_w1")
        .join(uni.select(F.col("_w").alias("_w2"),
                         F.col("_cw").alias("_cb")), "_w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    ratio = F.round(
        (F.col("pair_count").cast("double") / F.col("_nb").cast("double"))
        / ((F.col("_ca").cast("double") / F.col("_nu").cast("double"))
           * (F.col("_cb").cast("double") / F.col("_nu").cast("double"))),
        6,
    )
    scored = joined.select(
        "bigram", F.col("pair_count").cast("long").alias("pair_count"),
        ratio.alias("ratio"))
    topk = scored.orderBy(F.col("ratio").desc(), F.col("bigram")).limit(k)
    w = Window.orderBy(F.col("ratio").desc(), F.col("bigram"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def quality_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_words: int = 10, max_words: int = 100_000,
    min_avg_len_x10: int = 30, max_avg_len_x10: int = 100,
    max_symbol_permille: int = 100,
    min_alpha_pct: int = 80,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    style) as named per-document boolean verdicts plus an overall
    ``keep`` flag — the filter-with-audit-trail shape a curation
    pipeline needs (you keep the verdict columns to measure what each
    rule removes before committing to the filtered corpus).

    Rules (every threshold compared in INTEGER arithmetic — cross-
    multiplied ratios, no float comparisons — so verdicts are
    bit-reproducible on any engine):

    - ``r_word_count``: min_words <= #whitespace words <= max_words
    - ``r_avg_word_len``: mean word length in [min, max] (x10 fixed-point)
    - ``r_symbol_ratio``: non-alphanumeric chars / chars <= permille cap
    - ``r_alpha_words``: >= min_alpha_pct % of words contain a letter
    - ``r_stopwords``: >= min_stopword_hits English stopword occurrences

    Map-only: one scan, no shuffle — filtering 100 TB is
    embarrassingly parallel. Reported ratio columns are informational
    (rounded doubles); the verdicts never depend on them.

    NULL text is coalesced to '' (verdicts all false, keep=false) so
    the rules match an oracle that does the same — without it Spark's
    legacy ``size(NULL) = -1`` would silently diverge from an engine
    that propagates NULL."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(t, r"[ \t\n\x0B\f\r]+"), lambda w: F.length(w) > 0)
    s1 = df.select(
        F.col(id_col), t.alias("_t"), words.alias("_w"),
        F.transform(tokens(t), lambda x: F.lower(x)).alias("_lt"),
    )
    sw = STOPWORDS["en"]
    s2 = s1.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("_nw"),
        F.aggregate(F.transform(F.col("_w"), F.length), F.lit(0),
                    lambda a, x: a + x).cast("long").alias("_wlen"),
        F.size(F.filter(F.col("_w"), lambda w: w.rlike("[a-zA-Z]")))
        .cast("long").alias("_na"),
        F.length(F.regexp_replace(F.col("_t"), r"[a-zA-Z0-9\s]", ""))
        .cast("long").alias("_np"),
        F.length("_t").cast("long").alias("_nc"),
        F.size(F.filter(F.col("_lt"), lambda x: x.isin(sw)))
        .cast("long").alias("_sw"),
    )
    nw, wlen = F.col("_nw"), F.col("_wlen")
    na, np_, nc = F.col("_na"), F.col("_np"), F.col("_nc")
    r_words = (nw >= min_words) & (nw <= max_words)
    r_avg = (nw > 0) & (wlen * 10 >= nw * min_avg_len_x10) & \
        (wlen * 10 <= nw * max_avg_len_x10)
    r_sym = (nc > 0) & (np_ * 1000 <= nc * max_symbol_permille)
    r_alpha = (nw > 0) & (na * 100 >= nw * min_alpha_pct)
    r_sw = F.col("_sw") >= min_stopword_hits
    return s2.select(
        F.col(id_col),
        nw.alias("n_words"),
        F.round(F.when(nw > 0, wlen.cast("double") / nw.cast("double"))
                .otherwise(F.lit(0.0)), 6).alias("avg_word_len"),
        F.round(F.when(nc > 0, np_.cast("double") / nc.cast("double"))
                .otherwise(F.lit(0.0)), 6).alias("symbol_ratio"),
        F.col("_sw").alias("stopword_hits"),
        r_words.alias("r_word_count"),
        r_avg.alias("r_avg_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_alpha.alias("r_alpha_words"),
        r_sw.alias("r_stopwords"),
        (r_words & r_avg & r_sym & r_alpha & r_sw).alias("keep"),
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document statistics table.

    Values are identical to composing the standalone Column functions,
    but every regex/array reduction is staged through projection
    boundaries so it runs once per row: the naive composition evaluates
    the tokenize regex ~15x per row (each language vote appears in the
    greatest() AND in two when() branches, and quality/ratios each embed
    their own copy of the token tree — Spark does no CSE across these)."""
    t = F.col(text_col)
    toks = tokens(t)
    s1 = df.select(
        F.col(id_col), t.alias("_t"), toks.alias("_toks"),
        F.transform(toks, lambda x: F.lower(x)).alias("_lt"),
    )
    # stage every regex / array reduction as a scalar, exactly once
    votes = {
        lang: F.size(F.filter(F.col("_lt"), lambda x: x.isin(sw)))
        for lang, sw in STOPWORDS.items()
    }
    s2 = s1.select(
        F.col(id_col),
        F.length("_t").cast("long").alias("n_chars"),
        F.size("_toks").cast("long").alias("_n"),
        F.size(F.regexp_extract_all(F.col("_t"), F.lit(_BPE_RE), 0))
        .cast("long").alias("n_bpe_tokens"),
        F.when(
            F.length("_t") > 0,
            F.length(F.regexp_replace(F.col("_t"), r"[a-zA-Z0-9\s]", ""))
            .cast("double") / F.length("_t").cast("double"))
        .otherwise(F.lit(0.0)).alias("punct_ratio"),
        F.aggregate(F.transform(F.col("_toks"), F.length), F.lit(0),
                    lambda a, x: a + x).alias("_lensum"),
        fingerprint(F.col("_t")).alias("fingerprint"),
        *[v.cast("long").alias(f"_v_{lang}") for lang, v in votes.items()],
    )
    n = F.col("_n")
    nd = n.cast("double")
    swr = F.when(n > 0, F.col("_v_en").cast("double") / nd).otherwise(F.lit(0.0))
    quality = (
        F.least(nd / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.least(swr * 4.0, F.lit(1.0)) * 0.3
        + F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 4.0) * 0.3
    )
    best = F.greatest(*[F.col(f"_v_{lang}") for lang in STOPWORDS])
    lang_pred = F.lit("und")
    for lang in sorted(STOPWORDS, reverse=True):
        v = F.col(f"_v_{lang}")
        lang_pred = F.when((v > 0) & (v == best), F.lit(lang)).otherwise(lang_pred)
    return s2.select(
        F.col(id_col),
        F.col("n_chars"),
        n.alias("n_tokens"),
        F.col("n_bpe_tokens"),
        F.col("punct_ratio"),
        swr.alias("stopword_ratio_en"),
        F.when(n > 0, F.col("_lensum").cast("double") / nd)
        .otherwise(F.lit(0.0)).alias("avg_word_len"),
        quality.alias("quality"),
        F.col("fingerprint"),
        lang_pred.alias("lang_pred"),
    )


def keywords_tfidf(
    df: DataFrame, k: int = 3, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    per-document counterpart of :func:`collocations` (corpus-level) and
    the retrieval dual of BM25 (query-level): keyword tagging /
    faceting for every document in one pass.

    score = tf · ln(N / df), ranked per document with a term-asc
    tiebreak; scores are ranked and emitted as micro-rounded integers
    (`round(score·1e6)` BIGINT) so ordering and output are
    engine-exact. Shape: one (doc, term) tf aggregate, one |vocab|-row
    df aggregate joined back (broadcast — vocab ≪ corpus), then a
    per-document rank window; the shuffled volume is the distinct
    (doc, term) set, and no per-doc state exceeds its own vocabulary.
    Returns (id, term, rank, score).
    """
    toks = df.select(
        F.col(id_col).alias("_did"),
        F.explode(tokens(ascii_lower(F.col(text_col)))).alias("_tk"))
    tf = toks.groupBy("_did", "_tk").agg(
        F.count(F.lit(1)).cast("long").alias("_tf"))
    dfreq = tf.groupBy("_tk").agg(
        F.count(F.lit(1)).cast("long").alias("_df"))
    ndocs = df.agg(F.count(F.lit(1)).cast("long").alias("_N"))
    s6 = F.round(
        F.col("_tf").cast("double")
        * F.log(F.col("_N").cast("double") / F.col("_df").cast("double"))
        * 1e6).cast("long")
    w = Window.partitionBy("_did").orderBy(F.desc("_s6"), F.asc("_tk"))
    return (
        tf.join(F.broadcast(dfreq), "_tk")
        .crossJoin(F.broadcast(ndocs))
        .select("_did", "_tk", s6.alias("_s6"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_did").alias(id_col), F.col("_tk").alias("term"),
                F.col("rank").cast("long").alias("rank"),
                (F.col("_s6").cast("double") / 1e6).alias("score"))
    )


def skipgram_counts(
    df: DataFrame, window: int = 2, min_count: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(center, context) co-occurrence counts within a symmetric token
    window — the input matrix of embedding training (word2vec SGNS,
    GloVe) and of PPMI association mining beyond the adjacent-pair
    :func:`collocations`.

    Shape: tokens get positions once (``posexplode``), the center side
    explodes into its 2·``window`` target positions (map-only — no
    per-pair enumeration yet), and ONE equi-join on (doc, position)
    materializes exactly the in-window pairs: work is O(tokens ·
    2·window), never quadratic in document length. The count aggregate
    shuffles the pair set; ``min_count`` trims the long tail before it
    leaves the aggregate. Pairs are ordered (center, context) — each
    unordered co-occurrence appears symmetrically, as SGNS consumes it.
    """
    toks = df.select(
        F.col(id_col).alias("_did"),
        F.posexplode(tokens(ascii_lower(F.col(text_col)))).alias("_p", "_w"))
    offs = [o for o in range(-window, window + 1) if o != 0]
    centers = toks.select(
        "_did", F.col("_w").alias("center"),
        F.explode(F.array(*[F.col("_p") + F.lit(o) for o in offs]))
        .alias("_tp"))
    context = toks.select(
        "_did", F.col("_p").alias("_tp"), F.col("_w").alias("context"))
    return (
        centers.join(context, ["_did", "_tp"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cooc"))
        .filter(F.col("n_cooc") >= min_count)
    )


def hashed_features(
    df: DataFrame, dim: int = 1024, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009, "Feature
    hashing for large scale multitask learning"): each document becomes
    sparse (index, count) pairs with ``index = h(token) % dim`` — the
    fixed-dimension bag-of-words a linear classifier or quality model
    trains on, with no vocabulary to build, broadcast, or keep in sync
    across 100 TB (that is the trick's whole point; OOV cannot exist).

    Map-only explode + one (doc, index) aggregate — the shuffled volume
    is the distinct (doc, index) set, bounded by min(doc length, dim)
    per doc. md5-family hash, so feature indices are stable across
    runs, engines, and shards. Returns (id, idx, n) sparse triples;
    densify downstream only if the consumer needs it."""
    from db_spark.llm.dedup import h32

    toks = df.select(
        F.col(id_col).alias("_did"),
        F.explode(tokens(ascii_lower(F.col(text_col)))).alias("_tk"))
    return (
        toks.groupBy(
            "_did", (h32(F.col("_tk")) % dim).cast("int").alias("idx"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("_did").alias(id_col), "idx", "n")
    )


def classifier_score(
    df: DataFrame, weights: DataFrame, dim: int = 262144,
    bias_ppm: int = 0, threshold: float = 0.0, ngrams: int = 2,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Apply a fastText-style LINEAR quality classifier (Joulin et al.
    2016, "Bag of Tricks for Efficient Text Classification") — the
    model-based filtering stage of DCLM/LLaMA-class data pipelines:
    hash each unigram (and word bigram when ``ngrams`` >= 2) into
    ``dim`` buckets, average the bucket weights, add the bias, keep
    documents scoring at or above ``threshold``.

    ``weights`` is the trained model as a (idx int, w_ppm long) table —
    integer parts-per-million so the fold is exact. The score stays on
    the LOGIT scale deliberately: score = bias + mean(w) and the keep
    rule ``score >= threshold`` is decision-identical to thresholding
    sigmoid(score) at sigmoid(threshold), with no libm exp anywhere —
    the module's no-transcendental determinism doctrine. The entire
    numerator/denominator is integer (``bias_ppm * n + sum_w``, ``n *
    1e6``) with ONE final float64 division, so the double is
    bit-identical on every engine and partitioning.

    Scale shape: feature extraction is the hashed_features explode
    (map-only, in-row adjacent-pair bigrams — no positional
    self-join); the model is bounded by ``dim`` regardless of corpus
    vocabulary (the hashing trick: no OOV, nothing to keep in sync),
    so the scoring join BROADCASTS at any corpus size; one (doc)
    aggregate ends the plan. Returns (id, n_features, score DOUBLE
    rounded 6, keep BOOLEAN) — empty documents score NULL, keep false.
    """
    from db_spark.llm.dedup import h32

    d = spread_scan(df).select(
        F.col(id_col).alias("_did"),
        tokens(ascii_lower(F.col(text_col))).alias("_tk"))
    uni = d.select("_did", F.explode("_tk").alias("_f"))
    feats = uni
    if ngrams >= 2:
        bi = d.filter(F.size("_tk") >= 2).select(
            "_did",
            F.explode(F.expr(
                "transform(sequence(2, size(_tk)), "
                "i -> concat_ws(' ', _tk[i-2], _tk[i-1]))")).alias("_f"))
        feats = uni.unionByName(bi)
    w = weights.select(F.col("idx").cast("long").alias("_idx"),
                       F.col("w_ppm").cast("long").alias("_w"))
    scored = (
        feats.select("_did", (h32(F.col("_f")) % dim).alias("_idx"))
        .join(F.broadcast(w), "_idx", "left")
        .groupBy("_did")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"),
             F.sum(F.coalesce(F.col("_w"), F.lit(0)))
             .cast("long").alias("_sw")))
    # + 0.0 normalizes IEEE -0.0 (a tiny negative logit rounds to -0.0
    # on one engine and 0.0 on the other — the wilson_bounds precedent)
    score = F.round(
        (F.lit(bias_ppm) * F.col("_n") + F.col("_sw")).cast("double")
        / (F.col("_n") * F.lit(1000000)).cast("double"), 6) + F.lit(0.0)
    # every doc with >= 1 token appears in the unigram stream, so
    # `scored` covers all but the empty/NULL-text docs — union the
    # (cheap, column-pruned) empty branch instead of left-joining the
    # corpus against itself (saves an SMJ + two sort exchanges)
    empty = d.filter(F.col("_tk").isNull() | (F.size("_tk") < 1)).select(
        F.col("_did").alias(id_col),
        F.lit(0).cast("long").alias("n_features"),
        F.lit(None).cast("double").alias("score"),
        F.lit(False).alias("keep"))
    return (
        scored.select(
            F.col("_did").alias(id_col),
            F.col("_n").alias("n_features"),
            score.alias("score"),
            (score >= F.lit(threshold)).alias("keep"))
        .unionByName(empty))


def ilog2_fp256_layers(
    pairs: "list[tuple[str, str]]", dv: str, shl,
) -> "list[list[str]]":
    """Shared engine/oracle generator for DETERMINISTIC fixed-point
    base-2 logarithms: for each (in_col, out_name) pair, emit projection
    layers (lists of SQL select items, to be applied over a carry-all
    ``*``) computing ``out = floor-ish(256 * log2(in_col))`` for an
    integer column ``in_col >= 1`` using ONLY integer arithmetic —
    bit-length, one pinned truncating normalization, and 8
    square-and-compare steps — so the result is bit-identical on Spark
    and DuckDB (no libm log anywhere; the module doctrine).

    Algorithm (int64 throughout): ``i = bitlen(x) - 1`` is the integer
    part; the mantissa is normalized to the 21-bit window [2^20, 2^21)
    by one truncating shift (exact when shifting left, pinned
    truncation when right); each of the 8 fraction steps squares the
    mantissa (< 2^42, int64-safe) and takes one output bit from
    whether the square crossed 2^41. Result: ``i * 256 + frac8``,
    exact to 1/256 of a bit (monotone, deterministic).

    ``dv`` is the dialect's truncating integer division token (Spark
    ``div``, DuckDB ``//`` — both truncate toward zero, the
    json_agg_lanes precedent); ``shl(base, expr)`` renders a left
    shift by a COLUMN amount (Spark ``shiftleft``, DuckDB ``<<``).
    Layers must stay separate projections (selectExpr chain / nested
    subqueries): each step references its mantissa multiple times, and
    a single-projection substitution would blow up exponentially."""
    layers = [
        [f"(length(bin(CAST({x} AS BIGINT))) - 1) AS {o}__i"
         for x, o in pairs],
        [f"CASE WHEN {o}__i >= 20 THEN CAST({x} AS BIGINT) {dv} "
         f"{shl('1', f'({o}__i - 20)')} "
         f"ELSE CAST({x} AS BIGINT) * {shl('1', f'(20 - {o}__i)')} "
         f"END AS {o}__m0"
         for x, o in pairs],
    ]
    for s in range(8):
        items = []
        for _, o in pairs:
            m = f"{o}__m{s}"
            items.append(
                f"CASE WHEN {m} * {m} >= 2199023255552 THEN 1 ELSE 0 "
                f"END AS {o}__b{s}")
            items.append(
                f"CASE WHEN {m} * {m} >= 2199023255552 "
                f"THEN ({m} * {m}) {dv} 2097152 "
                f"ELSE ({m} * {m}) {dv} 1048576 END AS {o}__m{s + 1}")
        layers.append(items)
    layers.append([
        f"{o}__i * 256 + "
        + " + ".join(f"{o}__b{s} * {1 << (7 - s)}" for s in range(8))
        + f" AS {o}"
        for _, o in pairs])
    return layers


def _spark_shl(base: str, amount: str) -> str:
    return f"shiftleft(CAST({base} AS BIGINT), {amount})"


def train_nb_classifier(
    df: DataFrame, dim: int = 262144, ngrams: int = 2, alpha: int = 1,
    id_col: str = "doc_id", text_col: str = "text",
    label_col: str = "label",
) -> DataFrame:
    """Train a multinomial Naive Bayes quality classifier over hashed
    n-gram features (McCallum & Nigam 1998's multinomial event model;
    the DCLM/fastText-style model-based filtering loop's TRAINING
    half) — pure counting plus the deterministic integer log above, so
    the learned weights are bit-identical on any engine and any
    partitioning, and the whole model is SQL-oracle-expressible.

    Feature extraction is IDENTICAL to :func:`classifier_score`
    (unigrams + word bigrams when ``ngrams`` >= 2, md5-hashed into
    ``dim`` buckets) so the trained table plugs straight into it.
    ``label_col`` is boolean-castable: true = positive class (e.g.
    curated seed corpus), false = negative (e.g. raw crawl).

    Weights are UNSEEN-BASELINE-RELATIVE log-odds: with Laplace
    smoothing ``alpha``, full multinomial NB gives feature i the vote
    ``log2((c1_i+a)/(T1+a·dim)) - log2((c0_i+a)/(T0+a·dim))``; the
    per-class totals contribute the same constant to EVERY feature
    (including unseen buckets, which classifier_score coalesces to
    weight 0), so emitting ``w_i = log2(c1_i+a) - log2(c0_i+a)``
    relative to that baseline preserves every decision boundary — the
    constant (and the class prior) folds into classifier_score's
    ``bias_ppm``/``threshold``. w_ppm is the fixed-point log-odds
    scaled to parts-per-million-of-a-bit: ``(L(c1+a) - L(c0+a)) *
    15625 div 4`` (1e6/256 = 15625/4; truncating div, identical on
    both engines).

    Scale shape: one map-only n-gram explode (no positional
    self-join), ONE aggregate at (bucket) cardinality — the output is
    dim-bounded (the hashing trick: no vocabulary, no OOV), so
    training cost is a single pass over the corpus and the model
    always broadcasts back into scoring. Returns (idx int, n1 long,
    n0 long, w_ppm long) — one row per feature bucket observed in
    training.
    """
    from db_spark.llm.dedup import h32

    d = df.select(
        F.col(label_col).cast("boolean").alias("_lab"),
        tokens(ascii_lower(F.col(text_col))).alias("_tk"))
    uni = d.select("_lab", F.explode("_tk").alias("_f"))
    feats = uni
    if ngrams >= 2:
        bi = d.filter(F.size("_tk") >= 2).select(
            "_lab",
            F.explode(F.expr(
                "transform(sequence(2, size(_tk)), "
                "i -> concat_ws(' ', _tk[i-2], _tk[i-1]))")).alias("_f"))
        feats = uni.unionByName(bi)
    counts = (
        feats.select((h32(F.col("_f")) % dim).cast("int").alias("idx"),
                     "_lab")
        .groupBy("idx")
        .agg(F.sum(F.when(F.col("_lab"), 1).otherwise(0))
             .cast("long").alias("n1"),
             F.sum(F.when(F.col("_lab"), 0).otherwise(1))
             .cast("long").alias("n0"))
    )
    cur = counts.selectExpr(
        "idx", "n1", "n0",
        f"n1 + {int(alpha)} AS _nbp", f"n0 + {int(alpha)} AS _nbq")
    for layer in ilog2_fp256_layers(
            [("_nbp", "_nbl1"), ("_nbq", "_nbl0")], "div", _spark_shl):
        cur = cur.selectExpr("*", *layer)
    return cur.selectExpr(
        "idx", "n1", "n0",
        "((_nbl1 - _nbl0) * 15625) div 4 AS w_ppm")
