"""Mergeable sketches: KMV (bottom-k distinct counts), count-min
(frequency estimates / heavy hitters), fixed-bucket histograms
(quantile estimates), and Bloom filters (membership pre-filtering).

A KMV (k-minimum-values) sketch keeps the ``k`` smallest 32-bit hash
values of a column's distinct values; the distinct-count estimate is
``(k-1) * 2^32 / h_k`` where ``h_k`` is the k-th smallest kept hash
(Bar-Yossef et al. 2002, "Counting distinct elements in a data
stream"). Like every sketch here, KMV is
built from the repo's md5-derived ``h32`` hash family, so a SQL oracle
computes the *identical* sketch and estimate — and it is mergeable:
the sketch of a union is the k smallest of the concatenated sketches,
which makes per-partition / per-day sketches composable without
rescanning (the property a 100 TB rollup needs).

Scale shape: distinct (group, hash) is one hash-aggregate exchange;
top-k extraction is two bounded window passes — hashes are first
ranked within ``shards`` salt cells (each reducer sees ~1/shards of a
group's distinct hashes) and only the per-cell survivors (<= shards*k
rows per group) reach the final rank. No group ever funnels its full
distinct set through one reducer. The global (ungrouped) sketch uses
the same path via a constant group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from db_spark.llm.dedup import h32
from db_spark.llm.text import spread_scan

_TWO32 = 1 << 32


def kmv_sketch(
    df: DataFrame, value: Column, k: int = 64,
    group_cols: list[str] | None = None, shards: int = 32,
) -> DataFrame:
    """Bottom-k hash sketch: one row per kept hash, columns
    ``group_cols + [_h]``. Deterministic; collisions (two values, one
    32-bit hash) merge — the estimator's documented bias at extreme
    cardinalities (~2^16 distinct per group for 32-bit hashes).

    Sharded two-phase top-k: the k smallest of the per-shard k
    smallest are exactly the k smallest overall, so the result is
    value-identical to a single global rank while every window
    partition stays bounded."""
    groups = group_cols or []
    # no spread_scan here: KMV hashes once per row — the spread's
    # exchange costs more than the single-task md5 stream it breaks up
    # (A/B at sf0.1: kmv_set_ops 0.72 -> 1.00 s WITH the spread); the
    # 4-hash-per-row builders (cm, bloom) are where it pays
    hashed = (
        df.select(*groups, h32(value.cast("string")).alias("_h"))
        # md5(NULL) is NULL, which would sort first and consume a sketch
        # slot, deflating the estimate for any group containing a null.
        .filter(F.col("_h").isNotNull())
        .distinct()
    )
    cell = Window.partitionBy(*groups, F.col("_h") % shards).orderBy("_h")
    survivors = (
        hashed.withColumn("_cr", F.row_number().over(cell))
        .filter(F.col("_cr") <= k)
    )
    final = Window.partitionBy(*groups).orderBy("_h")
    return (
        survivors.withColumn("_r", F.row_number().over(final))
        .filter(F.col("_r") <= k)
        .select(*groups, "_h")
    )


def kmv_merge(
    a: DataFrame, b: DataFrame, k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Union two sketches into the sketch of the unioned inputs:
    distinct hashes, keep the k smallest per group. The merge input is
    at most 2k rows per group, so a single rank pass is bounded."""
    groups = group_cols or []
    u = a.unionByName(b).distinct()
    w = Window.partitionBy(*groups).orderBy("_h")
    return (
        u.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(*groups, "_h")
    )


def kmv_estimate(
    sketch: DataFrame, k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct-count estimate per group: exact hash count when the
    sketch is not full (fewer than k distinct hashes seen), else
    ``(k-1) * 2^32 DIV h_k`` — integer arithmetic end to end, so the
    estimate is engine-identical."""
    groups = group_cols or []
    agg = sketch.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("_nk"), F.max("_h").alias("_hk"))
    est = F.when(
        F.col("_nk") < k, F.col("_nk"),
    ).otherwise(F.expr(f"CAST({(k - 1) * _TWO32} AS BIGINT) div _hk"))
    return agg.select(
        *groups,
        F.col("_nk").cast("long").alias("n_hashes"),
        est.cast("long").alias("est_distinct"),
    )


def kmv_set_estimate(
    a: DataFrame, b: DataFrame, k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Set-operation estimates from two KMV sketches built with the same
    ``k`` and hash family (Beyer et al. 2007, "On synopses for
    distinct-value estimation under multiset operations"): merge the
    sketches, count how many of the merged bottom-k hashes appear in
    BOTH inputs — that fraction is an unbiased Jaccard estimate, and
    scaling the union estimate by it gives the intersection estimate.

    Returns one row per group: ``n_hashes`` (merged sketch size),
    ``n_both`` (survivors present in both sketches), ``est_union`` /
    ``est_intersection`` (integer arithmetic end to end), ``jaccard``
    (the single division ``n_both / n_hashes`` — the one float,
    deterministic because one IEEE divide of two small ints is
    bit-identical in every engine).

    Scale shape: the inputs are already sketches (<= k rows per group
    each), so everything here — the membership union, the rank window,
    the final aggregate — runs on <= 2k rows per group. Sketch once per
    partition/day, answer overlap questions without rescanning."""
    groups = group_cols or []
    u = (
        a.select(*groups, "_h", F.lit(1).alias("_ina"),
                 F.lit(0).alias("_inb"))
        .unionByName(
            b.select(*groups, "_h", F.lit(0).alias("_ina"),
                     F.lit(1).alias("_inb")))
        .groupBy(*groups, "_h")
        .agg(F.max("_ina").alias("_ina"), F.max("_inb").alias("_inb"))
    )
    w = Window.partitionBy(*groups).orderBy("_h")
    m = u.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    agg = m.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("_nk"),
        F.max("_h").alias("_hk"),
        F.sum(F.col("_ina") * F.col("_inb")).alias("_nboth"),
    )
    est_union = F.when(
        F.col("_nk") < k, F.col("_nk"),
    ).otherwise(F.expr(f"CAST({(k - 1) * _TWO32} AS BIGINT) div _hk"))
    staged = agg.select(
        *groups, "_nk", "_nboth", est_union.cast("long").alias("_eu"))
    # an ungrouped aggregate over two EMPTY sketches still emits one
    # global row (nk=0, NULL jaccard) — drop the degenerate row
    staged = staged.filter(F.col("_nk") > 0)
    return staged.select(
        *groups,
        F.col("_nk").cast("long").alias("n_hashes"),
        F.col("_nboth").cast("long").alias("n_both"),
        F.col("_eu").alias("est_union"),
        F.expr("CAST(_nboth AS BIGINT) * _eu div CAST(_nk AS BIGINT)")
        .cast("long").alias("est_intersection"),
        (F.col("_nboth").cast("double")
         / F.col("_nk").cast("double")).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007, "HyperLogLog: the analysis of a
# near-optimal cardinality estimation algorithm")
# ---------------------------------------------------------------------------
#
# Engine-reproducible HLL: the register index is the top ``p`` bits of
# the md5-derived 32-bit hash and the rank is the leading-zero count of
# the remaining ``32-p`` bits, computed as ``instr(lpad(bin(x), 32-p,
# '0'), '1')`` — a pure integer/string chain that renders identically in
# Spark and ANSI SQL (no engine-private register layout, unlike builtin
# approx_count_distinct). The register table is ``group_cols + [_r,
# _z]`` with <= 2^p rows per group; merge is register-wise MAX — the
# sketch of the union, exactly. The estimator's register sum
# ``SUM(2^-z)`` adds dyadic rationals spanning < 53 bits, so every
# partial sum is exact in a double and the result is order-independent
# — the one float subtlety that makes the estimate hash-stable.

def _hll_m(p: int) -> int:
    return 1 << p


def _hll_alpha(m: int) -> float:
    # Flajolet's bias-correction constant for m >= 128.
    return 0.7213 / (1.0 + 1.079 / m)


def hll_sketch(
    df: DataFrame, value: Column, p: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """HLL register table: one row per non-empty register, columns
    ``group_cols + [_r, _z]`` (register index, max leading-zero rank).
    One hash-aggregate exchange keyed by (group, register); state is
    bounded at 2^p rows per group no matter the stream size. NULLs are
    skipped (md5(NULL) is NULL)."""
    groups = group_cols or []
    # no spread_scan: one hash per row (see kmv_sketch's note;
    # hll_rolling A/B 0.45 -> 0.73 s WITH the spread)
    m = _hll_m(p)
    tail_bits = 32 - p
    h = h32(value.cast("string"))
    r = (h % m).cast("int")
    x = F.floor(h / m).cast("long")  # top 32-p bits
    rho = F.when(x == 0, F.lit(tail_bits + 1)).otherwise(
        F.instr(F.lpad(F.bin(x), tail_bits, "0"), "1")).cast("int")
    return (
        df.filter(h.isNotNull())
        .select(*groups, r.alias("_r"), rho.alias("_z"))
        .groupBy(*groups, "_r")
        .agg(F.max("_z").cast("int").alias("_z"))
    )


def hll_merge(a: DataFrame, b: DataFrame,
              group_cols: list[str] | None = None) -> DataFrame:
    """Register-wise MAX of two sketches (same p/hash family): the
    sketch of the unioned inputs, exactly. Bounded input, one tiny
    aggregate."""
    groups = group_cols or []
    return (
        a.unionByName(b)
        .groupBy(*groups, "_r")
        .agg(F.max("_z").cast("int").alias("_z"))
    )


def hll_estimate(
    sketch: DataFrame, p: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cardinality estimate per group: raw harmonic-mean estimate
    ``alpha_m * m^2 / SUM(2^-z)`` (absent registers contribute 2^0 = 1
    each) with Flajolet's small-range linear-counting correction
    (``m * ln(m/V)`` when E <= 2.5m and V > 0, V = zero registers).
    Rounded to an integer so a last-ulp ``ln`` difference between
    engines cannot surface. Returns ``group_cols + [n_registers,
    est_distinct]``."""
    groups = group_cols or []
    m = _hll_m(p)
    alpha = _hll_alpha(m)
    agg = sketch.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("_nr"),
        F.sum(F.pow(F.lit(2.0), -F.col("_z"))).alias("_s"),
    )
    s_full = F.col("_s") + (F.lit(m) - F.col("_nr")).cast("double")
    raw = F.lit(alpha * m * m) / s_full
    v = (F.lit(m) - F.col("_nr")).cast("double")
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v)).otherwise(raw)
    return agg.select(
        *groups,
        F.col("_nr").cast("long").alias("n_registers"),
        F.round(est).cast("long").alias("est_distinct"),
    )


def hll_set_estimate(
    a: DataFrame, b: DataFrame, p: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Set-operation estimates from two HLL sketches (same ``p`` and
    hash family): union via register-wise MAX merge, intersection via
    inclusion-exclusion ``est(A) + est(B) − est(A∪B)`` (clamped at 0 —
    I-E can go negative within sketch error), Jaccard as one division
    of the rounded integer estimates. The HLL counterpart of
    :func:`kmv_set_estimate` — choose this when per-side state must
    stay a few hundred bytes; KMV's bottom-k membership gives tighter
    intersections when k·8 bytes is affordable.

    Everything runs on <= 3·2^p register rows per group. Returns
    ``group_cols + [est_a, est_b, est_union, est_intersection,
    jaccard]``; every estimate is the integer-rounded
    :func:`hll_estimate` value, so the result is engine-exact."""
    groups = group_cols or []
    ea = hll_estimate(a, p, group_cols).withColumnRenamed(
        "est_distinct", "est_a").drop("n_registers")
    eb = hll_estimate(b, p, group_cols).withColumnRenamed(
        "est_distinct", "est_b").drop("n_registers")
    eu = hll_estimate(hll_merge(a, b, group_cols), p, group_cols) \
        .withColumnRenamed("est_distinct", "est_union").drop("n_registers")
    on = groups if groups else None
    if on:
        j = ea.join(eb, on).join(eu, on)
    else:
        j = ea.crossJoin(eb).crossJoin(eu)
    inter = F.greatest(
        F.lit(0).cast("long"),
        (F.col("est_a") + F.col("est_b") - F.col("est_union"))
        .cast("long"))
    return j.select(
        *groups, "est_a", "est_b", "est_union",
        inter.alias("est_intersection"),
        (inter.cast("double") / F.col("est_union").cast("double"))
        .alias("jaccard"),
    )


def hll_rolling_merge(
    sketches: DataFrame, period_col: str, window: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Rolling-window union of per-period HLL sketches: for every
    period p, the register-wise MAX over the sketches of the last
    ``window`` periods (p-window, p] — i.e. the sketch of the union of
    those periods' values. Pass the output to ``hll_estimate`` for
    rolling distinct counts (e.g. 7-day active users per day).

    THE per-period-rollup payoff of mergeable sketches at 100 TB: the
    data is scanned once to build daily sketches (bounded <= 2^p rows
    per day); every rolling window after that is an aggregation over
    |periods x registers| rows — re-scanning a week of raw events per
    day would be window x corpus work. ``period_col`` must be
    join-comparable with interval arithmetic (DATE or TIMESTAMP)."""
    groups = group_cols or []
    periods = sketches.select(*groups, period_col).distinct().select(
        *[F.col(g).alias(f"_g_{g}") for g in groups],
        F.col(period_col).alias("_p"))
    cond = (
        (F.col(period_col) <= F.col("_p"))
        & (F.col(period_col) > F.col("_p") - F.expr(f"INTERVAL {int(window)} DAY"))
    )
    for g in groups:
        cond = cond & (F.col(g) == F.col(f"_g_{g}"))
    return (
        # range join, but the build side is the |periods| dimension —
        # broadcast it; the sketch side never shuffles for the join
        sketches.join(F.broadcast(periods), cond)
        .groupBy(*[F.col(f"_g_{g}").alias(g) for g in groups],
                 F.col("_p").alias(period_col), F.col("_r"))
        .agg(F.max("_z").cast("int").alias("_z"))
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005, "An improved data
# stream summary: the count-min sketch and its applications")
# ---------------------------------------------------------------------------

def _cm_cell(value: Column, d: int, width: int) -> Column:
    """Row d's cell index for a value: salted md5-family hash mod width —
    engine-reproducible (same SQL renders in the DuckDB oracle)."""
    return (h32(F.concat(F.lit(f"cm{d}:"), value.cast("string"))) % width)


def cm_sketch(
    df: DataFrame, value: Column, depth: int = 4, width: int = 1024,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Count-min frequency sketch: ``depth x width`` counters per group,
    one row per non-empty cell — columns ``group_cols + [_d, _w, _cnt]``.
    State is bounded (depth*width rows per group) no matter how many
    distinct values stream through: the 100 TB shape for "how often does
    X occur" when the value universe is too large to groupBy exactly.

    One explode (depth rows per input row) into one hash-aggregate
    exchange keyed by (group, _d, _w) — bounded cell cardinality, so the
    reduce side never scales with the corpus. NULL values are skipped
    (md5(NULL) is NULL). Deterministic: salted md5-family cell hashes,
    integer counts."""
    groups = group_cols or []
    # spread the tiny scan across cores (r13, guide §2.6): each of the
    # depth cells costs a salted md5 per row BEFORE the first exchange;
    # the projection keeps the spread's exchange to the key bytes (§8)
    df = spread_scan(df.select(*groups, value.alias("_sv")), "_sv")
    value = F.col("_sv")
    cells = F.array(*[
        F.struct(F.lit(d).cast("int").alias("_d"),
                 _cm_cell(value, d, width).alias("_w"))
        for d in range(depth)
    ])
    ex = (
        df.filter(value.isNotNull())
        .select(*groups, F.explode(cells).alias("_c"))
        .select(*groups, F.col("_c._d").alias("_d"), F.col("_c._w").alias("_w"))
    )
    return ex.groupBy(*groups, "_d", "_w").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"))


def cm_merge(a: DataFrame, b: DataFrame,
             group_cols: list[str] | None = None) -> DataFrame:
    """Merge two count-min sketches (same depth/width/hash family):
    cell-wise counter sum — the sketch of the concatenated streams,
    exactly. Input is two bounded cell sets; one tiny aggregate."""
    groups = group_cols or []
    return (
        a.unionByName(b)
        .groupBy(*groups, "_d", "_w")
        .agg(F.sum("_cnt").cast("long").alias("_cnt"))
    )


def cm_join_size(
    a: DataFrame, b: DataFrame, depth: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches built
    on the join key with the same depth/width/hash family (the AMS /
    count-min inner-product estimator: for each depth row, the dot
    product of the two counter rows over-estimates ``Σ_v f_A(v)·f_B(v)``
    = |A ⋈ B| by the hash-collision cross terms; the MIN over depth
    rows is the tightest — still one-sided, never an undercount).

    This is the planner question ("how big is this join?") answered
    from maintained per-shard sketch state without touching either
    table: the inputs are <= depth×width rows each, the cell join is
    keyed on (depth, cell), and the output is one row per group —
    ``est_join_rows`` (MIN over depths) plus ``est_max`` (the loosest
    depth row, bounding the collision inflation)."""
    groups = group_cols or []
    prods = (
        a.withColumnRenamed("_cnt", "_ca")
        .join(b.withColumnRenamed("_cnt", "_cb"), groups + ["_d", "_w"])
        .groupBy(*groups, "_d")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("_dot"))
    )
    # a depth row with NO overlapping cells proves the join is empty —
    # its dot is 0 and must drive the MIN to 0, so left-join the dots
    # onto the full depth set rather than keeping only matched depths
    depths = a.select(*groups, "_d").distinct()
    full = depths.join(prods, groups + ["_d"], "left") \
        .withColumn("_dot", F.coalesce(F.col("_dot"), F.lit(0)))
    return full.groupBy(*groups).agg(
        F.min("_dot").cast("long").alias("est_join_rows"),
        F.max("_dot").cast("long").alias("est_max"),
    )


def cm_estimate(
    sketch: DataFrame, probes: DataFrame, value_col: str,
    depth: int = 4, width: int = 1024,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Frequency estimate for each probe value: ``min`` over the sketch's
    depth rows of the value's cell counters (missing cell = 0). The
    estimate never undercounts (one-sided error +eps*N with probability
    1-delta; depth=ceil(ln 1/delta), width=ceil(e/eps)).

    Join shape: probes explode to depth rows and hash-join the bounded
    cell table — probe-cardinality work, independent of stream size."""
    groups = group_cols or []
    v = F.col(value_col)
    cells = F.array(*[
        F.struct(F.lit(d).cast("int").alias("_d"),
                 _cm_cell(v, d, width).alias("_w"))
        for d in range(depth)
    ])
    ex = (
        probes.filter(v.isNotNull())
        .select(*groups, v.alias(value_col), F.explode(cells).alias("_c"))
        .select(*groups, value_col,
                F.col("_c._d").alias("_d"), F.col("_c._w").alias("_w"))
    )
    joined = ex.join(sketch, on=[*groups, "_d", "_w"], how="left")
    return (
        joined.groupBy(*groups, value_col)
        .agg(F.min(F.coalesce(F.col("_cnt"), F.lit(0)))
             .cast("long").alias("est_count"))
    )


def cm_heavy_hitters(
    df: DataFrame, value: Column, min_count: int,
    depth: int = 4, width: int = 1024,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Values whose estimated frequency is >= min_count. Count-min never
    undercounts, so this is a superset of the true heavy hitters (the
    classic sketch guarantee — false positives possible at ~eps*N, no
    false negatives). Probes are the distinct values (vocabulary
    cardinality, not corpus); both sides of the join are bounded."""
    groups = group_cols or []
    sk = cm_sketch(df, value, depth=depth, width=width, group_cols=groups)
    probes = df.filter(value.isNotNull()).select(
        *groups, value.cast("string").alias("value")).distinct()
    est = cm_estimate(sk, probes, "value",
                      depth=depth, width=width, group_cols=groups)
    return est.filter(F.col("est_count") >= min_count)


# ---------------------------------------------------------------------------
# Fixed-bucket histogram sketch: mergeable quantile estimates
# ---------------------------------------------------------------------------

def hist_sketch(
    df: DataFrame, value: Column, lo: float, hi: float,
    buckets: int = 256, group_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-width histogram over a declared [lo, hi) range: one row per
    non-empty bucket — columns ``group_cols + [_b, _cnt]``. Bounded
    state (<= buckets rows per group), trivially mergeable (bucket-wise
    counter sum), deterministic (one fixed chain of IEEE ops per value,
    identical in any engine). Values outside [lo, hi) clamp into the
    edge buckets; NULLs are skipped. Quantile error is one bucket width
    — pick ``buckets`` for the resolution the question needs, not for
    the data size (that is the whole point at 100 TB: a day's histogram
    is <= buckets rows however many values streamed through it)."""
    groups = group_cols or []
    b = F.floor((value.cast("double") - lo) * buckets / (hi - lo))
    clamped = F.least(F.lit(buckets - 1), F.greatest(F.lit(0), b)).cast("int")
    return (
        df.filter(value.isNotNull())
        .select(*groups, clamped.alias("_b"))
        .groupBy(*groups, "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    )


def hist_merge(a: DataFrame, b: DataFrame,
               group_cols: list[str] | None = None) -> DataFrame:
    """Merge two histograms (same lo/hi/buckets): bucket-wise sum."""
    groups = group_cols or []
    return (
        a.unionByName(b)
        .groupBy(*groups, "_b")
        .agg(F.sum("_cnt").cast("long").alias("_cnt"))
    )


def hist_quantile(
    sketch: DataFrame, qs: list[float], lo: float, hi: float,
    buckets: int = 256, group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q, the upper
    edge of the first bucket whose cumulative count reaches ``ceil(q *
    total)`` — a deterministic integer rank threshold, so estimates are
    engine-identical. Returns ``group_cols + [q, est]``; error is one
    bucket width. The cumulative window runs over <= buckets rows per
    group — driver-free and cheap at any scale."""
    groups = group_cols or []
    w = (Window.partitionBy(*[F.lit(1)] if not groups else groups)
         .orderBy("_b").rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy(*[F.lit(1)] if not groups else groups)
    cum = sketch.select(
        *groups, "_b", "_cnt",
        F.sum("_cnt").over(w).alias("_cum"),
        F.sum("_cnt").over(tot).alias("_tot"),
    )
    width = (hi - lo) / buckets
    out = None
    for q in qs:
        need = F.ceil(F.lit(q) * F.col("_tot")).cast("long")
        hit = (
            cum.filter(F.col("_cum") >= need)
            .groupBy(*groups).agg(F.min("_b").alias("_b"))
            .select(
                *groups,
                F.lit(q).alias("q"),
                F.round(F.lit(lo) + (F.col("_b") + 1) * width, 6).alias("est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


# ---------------------------------------------------------------------------
# Bloom filter: mergeable membership pre-filtering
# ---------------------------------------------------------------------------

def _bloom_pos(value: Column, i: int, bits: int) -> Column:
    return h32(F.concat(F.lit(f"bf{i}:"), value.cast("string"))) % bits


def _bit_mask(pos: Column) -> Column:
    """2^(pos % 32) as BIGINT — a shift with a *column* bit count
    (builtin shiftleft only takes a literal). Exact: doubles represent
    every 2^k for k <= 31."""
    return F.pow(F.lit(2.0), (pos % 32).cast("double")).cast("long")


def bloom_sketch(
    df: DataFrame, value: Column, bits: int = 1 << 16, k: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Bloom filter as 32-bit words: columns ``group_cols + [_w, _bits]``
    (word index, OR of set bit masks). State is <= bits/32 rows per
    group; merging two filters is a word-wise ``bit_or`` — the filter of
    the unioned inputs, exactly. Build is one explode (k rows per input)
    into one bounded-key aggregate. 32-bit words keep every shift inside
    BIGINT range on any engine (no sign-bit traps at position 63).

    The 100 TB use: ship a fact table's join-key filter (a few KB) to
    prune a huge probe side before the shuffle — a portable, mergeable
    version of what AQE's runtime bloom pruning does engine-side."""
    groups = group_cols or []
    # spread the tiny scan as cm_sketch does (k md5 hashes per row)
    df = spread_scan(df.select(*groups, value.alias("_sv")), "_sv")
    value = F.col("_sv")
    positions = F.array(*[_bloom_pos(value, i, bits) for i in range(k)])
    ex = (
        df.filter(value.isNotNull())
        .select(*groups, F.explode(positions).alias("_p"))
        .select(*groups, F.floor(F.col("_p") / 32).cast("int").alias("_w"),
                _bit_mask(F.col("_p")).alias("_m"))
    )
    return ex.groupBy(*groups, "_w").agg(
        F.bit_or("_m").cast("long").alias("_bits"))


def bloom_merge(a: DataFrame, b: DataFrame,
                group_cols: list[str] | None = None) -> DataFrame:
    """Word-wise OR of two filters (same bits/k/hash family)."""
    groups = group_cols or []
    return (
        a.unionByName(b)
        .groupBy(*groups, "_w")
        .agg(F.bit_or("_bits").cast("long").alias("_bits"))
    )


def bloom_contains(
    sketch: DataFrame, probes: DataFrame, value_col: str,
    bits: int = 1 << 16, k: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Membership test for each probe value: true iff all k bit
    positions are set (no false negatives; false-positive rate ~
    (1 - e^(-k*n/bits))^k). Probes explode to k (word, mask) lookups
    and hash-join the bounded word table — probe-cardinality work.
    Returns ``[*group_cols, value_col, maybe_present]``; use as a
    semi-join pre-filter, never as an exact membership answer.

    A grouped sketch (built with ``group_cols``) must be probed with the
    same ``group_cols`` — silently OR-ing every group's words into one
    filter would inflate false positives, so extra sketch columns raise."""
    groups = group_cols or []
    extra = set(sketch.columns) - {"_w", "_bits"} - set(groups)
    if extra:
        raise ValueError(
            f"sketch carries group columns {sorted(extra)}; pass group_cols= "
            "so probes join per group (conflating groups inflates the "
            "false-positive rate)")
    v = F.col(value_col)
    lookups = F.array(*[
        F.struct(
            F.floor(_bloom_pos(v, i, bits) / 32).cast("int").alias("_w"),
            _bit_mask(_bloom_pos(v, i, bits)).alias("_m"),
        )
        for i in range(k)
    ])
    ex = (
        probes.filter(v.isNotNull())
        .select(*groups, v.alias(value_col), F.explode(lookups).alias("_l"))
        .select(*groups, value_col,
                F.col("_l._w").alias("_w"), F.col("_l._m").alias("_m"))
    )
    joined = ex.join(sketch.select(*groups, "_w", "_bits"),
                     on=[*groups, "_w"], how="left")
    hit = (F.col("_bits").isNotNull()
           & (F.col("_bits").bitwiseAND(F.col("_m")) == F.col("_m")))
    return (
        joined.groupBy(*groups, value_col)
        .agg((F.count(F.lit(1)) == F.sum(hit.cast("int"))).alias("maybe_present"))
    )
