"""Event-sequence analytics over event streams: funnels, cohort
retention, batch sessionization, SCD Type-2 interval building, EWMA
smoothing, PSI distribution-drift monitoring, and STL-lite seasonal
decomposition — the classic
product-analytics asks layered on the
same events table the windowing/streaming tier serves (reference has
no event analytics; north-star surface alongside hypertable rollups).

Both operators are cascades of filtered aggregates — no per-user event
arrays are ever materialized, so per-user state is O(1) and every
exchange is keyed by user over a *step-filtered* subset of events, not
the full stream. At 100 TB of events the shuffled volume per funnel
stage is only that stage's event type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch_seconds(c):
    """Whole seconds since epoch, timezone-free — works on TIMESTAMP
    and TIMESTAMP_NTZ alike (epoch functions like unix_micros are
    LTZ-only and would drag the session timezone in); DuckDB parity:
    ``epoch_us(ts) // 1000000``."""
    return (F.datediff(F.to_date(c), F.to_date(F.lit("1970-01-01")))
            .cast("long") * 86400
            + F.hour(c).cast("long") * 3600
            + F.minute(c).cast("long") * 60
            + F.second(c).cast("long"))


def _holt_fold(vals, alpha: float, beta: float):
    """The Holt level/trend recursion as one in-row left-to-right
    fold over an ordered value array: init level = vals[1],
    trend = vals[1] - vals[0], fold vals[2:]. ONE definition shared
    by holt_forecast and holt_backtest so the recursion the oracles
    replay can never fork."""
    a, b = float(alpha), float(beta)
    init = F.struct(vals[1].alias("l"), (vals[1] - vals[0]).alias("t"))

    def new_level(acc, y):
        return F.lit(a) * y + F.lit(1.0 - a) * (acc.l + acc.t)

    return F.aggregate(
        F.slice(vals, 3, F.size(vals) - 2), init,
        lambda acc, y: F.struct(
            new_level(acc, y).alias("l"),
            (F.lit(b) * (new_level(acc, y) - acc.l)
             + F.lit(1.0 - b) * acc.t).alias("t")))


def funnel(
    events: DataFrame, steps: list[str],
    user_col: str = "user_id", type_col: str = "event_type",
    ts_col: str = "ts", max_gap_seconds: int | None = None,
) -> DataFrame:
    """Ordered-funnel completion: for each step k, the number of users
    whose earliest qualifying step-k event *strictly follows* their
    earliest qualifying step-(k-1) event. Returns (step, event_type,
    users), one row per step, step 0 = all users who did steps[0].

    ``max_gap_seconds`` adds the max-conversion-window form product
    analytics ships: step k must also land *within* that many seconds
    of the chosen step-(k-1) time (``<=`` on the boundary). Semantics
    are greedy first-touch: each frontier is the EARLIEST qualifying
    time, so a user whose only in-window step-k event follows a later
    step-(k-1) repeat is not counted — deterministic, one-pass, and
    expressible identically in ANSI SQL (the oracle runs the same
    cascade; a backtracking "any chain" definition would need a
    per-user sequence scan, which is exactly the per-user event-array
    materialization this shape avoids).

    Min-cascade shape: stage k is one shuffle keyed by user over ONLY
    the step-k events joined to the (user, t_{k-1}) frontier — the
    classic funnel is k small aggregates, never a per-user sort or
    event-array collect. Strict ``>`` ordering makes ties (same
    timestamp) non-qualifying on every engine identically. The gap
    bound is a residual on the existing join — timestamp arithmetic is
    exact microseconds on any engine, no extra shuffle."""
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col).agg(F.min(ts_col).alias("_t"))
    )
    stages = [(steps[0], cur)]
    for s in steps[1:]:
        nxt = (
            events.filter(F.col(type_col) == s)
            .join(cur.select(user_col, "_t"), user_col)
            .filter(F.col(ts_col) > F.col("_t"))
        )
        if max_gap_seconds is not None:
            nxt = nxt.filter(
                F.col(ts_col)
                <= F.col("_t") + F.expr(f"INTERVAL {int(max_gap_seconds)} SECOND")
            )
        cur = nxt.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        stages.append((s, cur))
    out = None
    for i, (s, frontier) in enumerate(stages):
        row = frontier.agg(
            F.count(F.lit(1)).cast("long").alias("users")
        ).select(
            F.lit(i).cast("int").alias("step"),
            F.lit(s).alias(type_col),
            "users",
        )
        out = row if out is None else out.unionByName(row)
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event; for each (cohort, week offset), how many of that cohort were
    active that week. Returns (cohort_week DATE, week_offset INT,
    users). week_offset 0 row = cohort size.

    Two aggregates + one join, all keyed by user or (cohort, offset):
    first-touch per user (one shuffle), distinct active weeks per user
    (one shuffle), then a user-keyed join and a |cohorts x offsets|-
    cardinality final aggregate. Week arithmetic is Monday-truncated
    timestamps whose difference is an exact multiple of 7 days —
    integer on any engine."""
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).alias("_cohort"))
    active = events.select(
        user_col, F.date_trunc("week", F.col(ts_col)).alias("_wk")
    ).distinct()
    joined = active.join(first, user_col)
    return (
        joined.select(
            F.to_date("_cohort").alias("cohort_week"),
            (F.datediff(F.col("_wk"), F.col("_cohort")) / 7)
            .cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("users"))
    )


def sessionize(
    events: DataFrame, gap_seconds: int = 1800,
    user_col: str = "user_id", ts_col: str = "ts",
) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions wherever the gap to the previous event exceeds
    ``gap_seconds`` (strict >; an exactly-gap-sized pause continues the
    session, matching the streaming tier's session_window semantics).
    Returns one row per session: (user, session_seq, session_start,
    session_end, n_events, duration_s).

    Shape: ONE shuffle keyed by user feeds both window passes and the
    final aggregate (same partitioning, Catalyst reuses the exchange):
    lag -> boundary flag -> running sum = session sequence number, then
    groupBy (user, seq). Per-user state is the sort of that user's
    events inside its partition — no per-user arrays, no driver work.
    A pathological single user with billions of events would skew the
    sort; sessionizing such a key calls for pre-bucketing by day first
    (the composition stays correct because sessions never span a gap
    larger than a day boundary if the day is > gap)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag(ts_col).over(w)
    # microsecond-exact and timezone-free gap test: interval arithmetic
    # works on TIMESTAMP and TIMESTAMP_NTZ alike (epoch conversions like
    # unix_micros are LTZ-only and would drag the session timezone in)
    is_new = (
        prev.isNull()
        | (F.col(ts_col) > prev + F.expr(f"INTERVAL {int(gap_seconds)} SECOND"))
    ).cast("long")

    epoch_s = _epoch_seconds
    return (
        events
        .withColumn("_new", is_new)
        .withColumn("_seq", F.sum("_new").over(run))
        .groupBy(user_col, F.col("_seq").alias("session_seq"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (epoch_s(F.max(ts_col)) - epoch_s(F.min(ts_col)))
            .cast("long").alias("duration_s"),
        )
    )


def scd2(
    changes: DataFrame, key_col: str, attr_col: str, ts_col: str = "ts",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: turn a change log (key,
    attribute, timestamp) into validity intervals — (key, attr,
    valid_from, valid_to, is_current), half-open [from, to), NULL to =
    current. Consecutive records with an unchanged attribute collapse
    into one interval (no-op changes don't version). Ties on (key, ts)
    are broken by keeping the row that sorts last on the attribute —
    deterministic on any engine.

    The warehouse-standard dimension-building op, and the batch dual of
    the MVCC tier: ``Collection.history()`` gives per-id versions of
    stored objects, scd2() derives the same interval form from ANY
    event stream. One shuffle keyed by ``key_col`` feeds the dedup
    window, the change-collapse lag, and the valid_to lead — a single
    sort per key partition, no self-joins."""
    w = Window.partitionBy(key_col).orderBy(ts_col, attr_col)
    # last write wins per (key, ts): keep the final row of each ts-tie
    # run in (ts, attr) order — same attr-sort-last winner a per-(key,
    # ts) rank would pick, but expressed on the SAME key-only window
    # partitioning as the collapse/lead passes, so all three share one
    # exchange (a (key, ts)-partitioned rank would force a second)
    deduped = (
        changes.select(key_col, attr_col, ts_col)
        .withColumn("_nts", F.lead(ts_col).over(w))
        .filter(F.col("_nts").isNull() | (F.col("_nts") != F.col(ts_col)))
        .drop("_nts")
    )
    changed = (
        deduped
        .withColumn("_prev", F.lag(attr_col).over(w))
        .filter(F.col("_prev").isNull()
                | (F.col(attr_col) != F.col("_prev")))
        .drop("_prev")
    )
    w2 = Window.partitionBy(key_col).orderBy(ts_col)
    return (
        changed
        .select(
            F.col(key_col),
            F.col(attr_col),
            F.col(ts_col).alias("valid_from"),
            F.lead(ts_col).over(w2).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def ewma(
    events: DataFrame, value_col: str, alpha: float = 0.3, horizon: int = 8,
    key_col: str = "user_id", ts_col: str = "ts", order_tiebreak: str | None = None,
) -> DataFrame:
    """Finite-horizon exponentially-weighted moving average per key:
    ewma_t = sum_{j<horizon} a(1-a)^j * v_{t-j}, normalized over the
    terms that exist (partition-leading rows average fewer). The
    truncated form is chosen deliberately: the recursive EWMA is a
    sequential scan (unexpressible without per-key iteration), while
    the K-term form is a fixed lag composition — one window sort per
    key, engine-portable, and within (1-a)^K (< 6% at K=8, a=0.3) of
    the infinite-tail value. The weighted sum is written as one
    explicit left-to-right chain of literal-weight products, so every
    engine evaluates the identical IEEE op sequence — bit-stable
    results, asserted by the oracle's value-hash.

    Adds an ``ewma`` column (rounded to 6 places) to the input rows."""
    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    v = F.col(value_col).cast("double")
    num = None
    den = None
    for j in range(horizon):
        wt = alpha * (1.0 - alpha) ** j
        term = F.lag(v, j).over(w) if j else v
        contrib = F.when(term.isNotNull(), term * F.lit(wt)).otherwise(F.lit(0.0))
        present = F.when(term.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = contrib if num is None else num + contrib
        den = present if den is None else den + present
    return events.withColumn("ewma", F.round(num / den, 6))


def psi_drift(
    ref: DataFrame, cur: DataFrame, value,
    lo: float, hi: float, buckets: int = 16,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    sample of one numeric column — the standard "did the distribution
    move?" monitor for features/labels between pipeline runs
    (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).

    Both sides histogram into the same declared equi-width [lo, hi)
    buckets (``db_spark.sketch.hist_sketch`` — bounded, mergeable,
    IEEE-deterministic bucket arithmetic), shares are Laplace-smoothed
    ``(n_i + 1) / (N + buckets)`` so empty buckets stay finite without
    an arbitrary epsilon, and ``PSI = Σ (q_i − p_i) · ln(q_i / p_i)``
    accumulates nano-rounded terms in BIGINT (the chi2/entropy
    order-independence discipline). Returns a single row
    (n_ref, n_cur, n_buckets, psi).

    Scale shape: two histogram scans (each reducible to sketch state
    that may already exist from monitoring), then everything runs on
    ``buckets`` rows. Comparing yesterday's 100 TB against today's is
    two sketch reads if the histograms are maintained incrementally.
    """
    from db_spark.sketch import hist_sketch

    return psi_from_hists(
        hist_sketch(ref, value, lo, hi, buckets),
        hist_sketch(cur, value, lo, hi, buckets),
        buckets=buckets)


def psi_from_hists(href: DataFrame, hcur: DataFrame,
                   buckets: int = 16) -> DataFrame:
    """PSI directly from two already-built histogram sketches
    (``hist_sketch`` output: ``_b``/``_cnt`` rows, same lo/hi/buckets
    on both sides) — the form a monitoring pipeline actually runs:
    the reference histogram is persisted state, the live one is
    maintained by ``streaming.stream_sketch_hist``, and the comparison
    never rescans either dataset. Same Laplace smoothing and
    nano-rounded BIGINT term sum as :func:`psi_drift` (which is now a
    thin wrapper over this)."""
    href = href.withColumnRenamed("_cnt", "_nr")
    hcur = hcur.withColumnRenamed("_cnt", "_nc")
    spine = href.sparkSession.range(buckets).select(
        F.col("id").cast("int").alias("_b"))
    j = (
        spine.join(F.broadcast(href), "_b", "left")
        .join(F.broadcast(hcur), "_b", "left")
        .select("_b",
                F.coalesce(F.col("_nr"), F.lit(0)).alias("_nr"),
                F.coalesce(F.col("_nc"), F.lit(0)).alias("_nc"))
    )
    tot = j.agg(F.sum("_nr").cast("long").alias("_tr"),
                F.sum("_nc").cast("long").alias("_tc"))
    p = (F.col("_nr") + 1).cast("double") \
        / (F.col("_tr") + buckets).cast("double")
    q = (F.col("_nc") + 1).cast("double") \
        / (F.col("_tc") + buckets).cast("double")
    term = (q - p) * F.log(q / p)
    return (
        j.join(F.broadcast(tot))
        .select("_tr", "_tc",
                F.round(term * 1e9).cast("long").alias("_tn"))
        .agg(F.max("_tr").alias("n_ref"), F.max("_tc").alias("n_cur"),
             F.count(F.lit(1)).cast("long").alias("n_buckets"),
             F.round(F.sum("_tn").cast("double") / 1e9, 6).alias("psi"))
    )


def seasonal_decompose(
    series: DataFrame, key_cols, time_col: str, value_col: str,
    period: int = 24, trend_window: int = 5, scale: int = 100,
) -> DataFrame:
    """Deterministic STL-lite decomposition of a regular series into
    trend + seasonal + residual — the seasonality-aware baseline behind
    "is this metric anomalous or just Tuesday?". ``series`` is one row
    per (key, period position) — pre-aggregate raw events first;
    ``phase`` is ``position % period`` (e.g. hour-of-day for hourly
    data, period=24).

    Determinism discipline: the centered moving-average trend sums
    SCALED BIGINTs inside the ROWS frame (integer addition — double
    window sums are summation-order-dependent across engines) with ONE
    IEEE divide at the end; the per-phase seasonal mean nano-rounds the
    detrended terms into a BIGINT sum (chi2/entropy rule); the residual
    is two subtractions. Every value is reproducible cross-engine, so
    the whole decomposition is oracle-checkable.

    Shape: one shuffle on the key for the trend window (partial edge
    windows use the available rows — standard, deterministic), one
    (key, phase) aggregate broadcast back. Series length per key is
    positions, not raw events — dashboard-sized at any raw scale.
    Returns key_cols + (position, phase, value, trend, seasonal,
    residual)."""
    keys = list(key_cols)
    half = trend_window // 2
    base = series.select(
        *keys,
        F.col(time_col).cast("long").alias("_pos"),
        F.round(F.col(value_col) * scale).cast("long").alias("_vc"))
    wt = (Window.partitionBy(*keys).orderBy("_pos")
          .rowsBetween(-half, half))
    trended = base.withColumn(
        "_trend",
        F.sum("_vc").over(wt).cast("double")
        / (F.lit(float(scale)) * F.count(F.lit(1)).over(wt)))
    detr = trended.withColumn(
        "_d", F.col("_vc").cast("double") / scale - F.col("_trend"))
    phase = detr.withColumn("_ph", F.col("_pos") % period)
    seas = (
        phase.groupBy(*keys, "_ph")
        .agg((F.sum(F.round(F.col("_d") * 1e9).cast("long")).cast("double")
              / (F.lit(1e9) * F.count(F.lit(1)))).alias("_seasonal"))
    )
    out = phase.join(F.broadcast(seas), keys + ["_ph"])
    return out.select(
        *keys,
        F.col("_pos").alias("position"),
        F.col("_ph").cast("long").alias("phase"),
        (F.col("_vc").cast("double") / scale).alias("value"),
        F.round(F.col("_trend"), 6).alias("trend"),
        F.round(F.col("_seasonal"), 6).alias("seasonal"),
        # + 0.0 normalizes IEEE negative zero: the two subtractions can
        # yield -0.0 on one engine and 0.0 on the other for an exactly
        # cancelled residual, and round() preserves the sign bit
        # (wilson_bounds precedent; caught by the r9 full-schema dirty
        # events fixture)
        (F.round(F.col("_vc").cast("double") / scale - F.col("_trend")
                 - F.col("_seasonal"), 6) + F.lit(0.0)).alias("residual"),
    )


def seasonal_anomalies(
    series: DataFrame, key_cols, time_col: str, value_col: str,
    period: int = 24, trend_window: int = 5, threshold: float = 3.0,
    scale: int = 100,
) -> DataFrame:
    """Seasonality-aware anomaly detection: decompose the series
    (:func:`seasonal_decompose`), then flag positions whose RESIDUAL
    z-score exceeds ``threshold`` — "anomalous after accounting for
    trend and time-of-day", the question a raw z-score gets wrong
    twice a day at peak hours.

    Residual moments use the integer discipline (residuals milli-
    scaled to BIGINT; sum and sum-of-squares are order-independent
    integer adds), sample variance, and a rank-4 rounded comparison —
    the ``zscore_outliers`` rules, applied to the decomposition's
    residual channel. Returns only the flagged rows: key_cols +
    (position, phase, value, residual, z). Cost on top of the
    decomposition: one |keys|-row moment aggregate broadcast back.
    """
    keys = list(key_cols)
    dec = seasonal_decompose(series, keys, time_col, value_col,
                             period, trend_window, scale)
    r1000 = F.round(F.col("residual") * 1000).cast("long")
    moments = (
        dec.groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("_n"),
             F.sum(r1000).alias("_s1"),
             F.sum(r1000 * r1000).alias("_s2"))
        .filter(F.col("_n") > 1)
        .select(
            *keys, "_n",
            (F.col("_s1").cast("double") / F.col("_n")).alias("_mean"),
            F.sqrt((F.col("_s2").cast("double")
                    - F.col("_s1").cast("double") * F.col("_s1")
                    / F.col("_n"))
                   / (F.col("_n") - 1)).alias("_sd"))
    )
    return (
        dec.withColumn("_r", r1000)
        .join(F.broadcast(moments), keys)
        .filter(F.col("_sd") > 0)
        .withColumn("_z", (F.col("_r") - F.col("_mean")) / F.col("_sd"))
        .filter(F.round(F.abs("_z"), 4) >= threshold)
        .select(*keys, "position", "phase", "value", "residual",
                F.round("_z", 4).alias("z"))
    )


def winsorize(
    df: DataFrame, value_col: str, group_cols, lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Winsorization: clip each value into its group's exact
    [p_lo, p_hi] percentile band — the outlier-taming preprocessing
    step (feature clipping before training, robust means for
    reporting) that keeps rows instead of dropping them like a z-score
    filter would.

    Exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont` bit-for-bit on the same doubles — the
    `exact_percentiles` parity); bounds are a |groups|-row aggregate
    broadcast back onto one clipping scan. Appends
    ``{value_col}_w`` (clipped), ``_clipped_lo``/``_clipped_hi``
    (flags). Exact percentiles sort per group — for 100 TB-scale
    groups swap the bound computation for `hist_quantile` sketch
    bounds; the clipping scan is unchanged."""
    keys = list(group_cols)
    # one array-percentile aggregate: two scalar `percentile` calls
    # each buffer + sort the group's values independently; the array
    # form sorts once and reads both ranks from the same sorted counts
    # (identical per-percentage interpolation — bit-identical bounds)
    bounds = (
        df.groupBy(*keys)
        .agg(F.expr(f"percentile({value_col}, array({lo!r}, {hi!r}))")
             .alias("_b"))
        .select(*keys, F.col("_b")[0].alias("_blo"),
                F.col("_b")[1].alias("_bhi")))
    v = F.col(value_col)
    return (
        df.join(F.broadcast(bounds), keys)
        .withColumn(f"{value_col}_w",
                    F.least(F.greatest(v, F.col("_blo")), F.col("_bhi")))
        .withColumn("_clipped_lo", (v < F.col("_blo")).cast("int"))
        .withColumn("_clipped_hi", (v > F.col("_bhi")).cast("int"))
        .drop("_blo", "_bhi")
    )


def time_weighted_avg(
    events: DataFrame, key_cols, ts_col: str = "ts",
    value_col: str = "value", scale: int = 100,
) -> DataFrame:
    """Time-weighted average over IRREGULARLY sampled values: each
    sample holds until the next one, so its weight is the seconds it
    was in force (the last sample of a key contributes nothing — its
    holding period is unknown). The honest mean for sampled gauges
    (price, queue depth, temperature), where the arithmetic mean
    over-weights bursts of rapid samples.

    Determinism: holding seconds are exact integers (timezone-free
    datediff/hour/minute/second composition — TIMESTAMP_NTZ-safe),
    values cent-scale to BIGINT, and the weighted sum accumulates
    cent·second integer products — order-independent; ONE divide at
    the end. One shuffle on the key (the lead window), then a
    |keys|-row aggregate. Returns key_cols + (n_samples,
    total_seconds, twap)."""
    keys = list(key_cols)

    def epoch_s(c):
        return (
            F.datediff(F.to_date(c), F.to_date(F.lit("1970-01-01")))
            .cast("long") * 86400
            + F.hour(c).cast("long") * 3600
            + F.minute(c).cast("long") * 60
            + F.second(c).cast("long")
        )

    held = (
        events.select(
            *keys,
            epoch_s(F.col(ts_col)).alias("_t"),
            F.round(F.col(value_col) * scale).cast("long").alias("_vc"))
        # tie-break equal timestamps by value: with two samples in the
        # same second, which one holds for 0 s is semantically
        # arbitrary but must be DETERMINISTIC across engines or the
        # weighted sum drifts on ties
        .withColumn("_tn", F.lead("_t").over(
            Window.partitionBy(*keys).orderBy("_t", "_vc")))
        .filter(F.col("_tn").isNotNull())
        .withColumn("_dur", F.col("_tn") - F.col("_t"))
    )
    return (
        held.groupBy(*keys)
        .agg(F.count(F.lit(1)).cast("long").alias("n_samples"),
             F.sum("_dur").cast("long").alias("total_seconds"),
             F.round(
                 F.sum(F.col("_vc") * F.col("_dur")).cast("double")
                 / (F.lit(float(scale)) * F.sum("_dur")), 6).alias("twap"))
        .filter(F.col("total_seconds") > 0)
    )


def item_pairs(items) -> Column:
    """Every in-basket item pair as ``array<struct<a, b>>``: one struct
    per pair of array POSITIONS whose values satisfy ``a < b`` — the
    exact pair multiset of a basket-keyed self-join on ``a.item <
    b.item`` over the same rows, enumerated inside the array (work is
    quadratic in basket size, never in the catalog, and there is no
    join). Over ``collect_list`` an item repeated in a basket pairs
    once per occurrence; over ``collect_set`` each distinct pair once.
    NULL elements never pair; NULL or empty arrays yield no pairs."""
    return F.flatten(F.transform(
        items,
        lambda x: F.filter(
            F.transform(items, lambda y: F.when(
                x < y, F.struct(x.alias("a"), y.alias("b")))),
            lambda s: s.isNotNull())))


def association_rules(
    baskets: DataFrame, basket_col: str, item_col: str,
    min_pair_count: int = 2, top_k: int = 50,
) -> DataFrame:
    """Market-basket association rules with support / confidence / lift
    — the classic recommender/affinity mining pass, from a plain
    (basket, item) table.

    Candidate pairs come only from within a basket (:func:`item_pairs`
    over each basket's item SET — enumeration is quadratic in BASKET
    size, never in the catalog, same shape as the co-occurrence
    query), aggregated once per unordered pair and then emitted in
    BOTH directions a->b / b->a so confidence is per-antecedent. All
    three metrics derive from integer
    counts with one rounded division each, so any engine reproduces
    them bit-for-bit. ``min_pair_count`` prunes the long noise tail
    BEFORE the metric join; the final top-k is a
    TakeOrderedAndProject on (lift desc, antecedent, consequent) — a
    total order, deterministic LIMIT boundary.

    Returns (antecedent, consequent, pair_count, antecedent_count,
    consequent_count, support, confidence, lift) x top_k.
    """
    from db_spark.llm.dedup import _plan_cache

    # one basket-keyed collect_set exchange (r13, guide §2.3): the
    # basket table is plan-cached and feeds all three consumers (the
    # eager basket count, per-item counts, in-array pair generation);
    # the set dedups an item repeated within a basket
    basket_sets = _plan_cache(
        baskets.select(F.col(basket_col).alias("_b"),
                       F.col(item_col).alias("_i"))
        .groupBy("_b").agg(F.collect_set("_i").alias("_is")))
    n_baskets = basket_sets.count()
    item_cnt = basket_sets.select(F.explode("_is").alias("_i")).groupBy(
        "_i").agg(F.count(F.lit(1)).cast("long").alias("_ic"))
    pairs = (
        basket_sets.select(F.explode(item_pairs("_is")).alias("_p"))
        .select(F.col("_p.a").alias("_ia"), F.col("_p.b").alias("_ib"))
        .groupBy("_ia", "_ib")
        .agg(F.count(F.lit(1)).cast("long").alias("_pc"))
        .filter(F.col("_pc") >= min_pair_count)
    )
    both = pairs.select(
        F.col("_ia").alias("antecedent"), F.col("_ib").alias("consequent"),
        F.col("_pc")).unionByName(pairs.select(
            F.col("_ib").alias("antecedent"), F.col("_ia").alias("consequent"),
            F.col("_pc")))
    ca = item_cnt.select(F.col("_i").alias("antecedent"),
                         F.col("_ic").alias("antecedent_count"))
    cb = item_cnt.select(F.col("_i").alias("consequent"),
                         F.col("_ic").alias("consequent_count"))
    conf = F.round(F.col("_pc").cast("double")
                   / F.col("antecedent_count"), 6)
    return (
        both.join(ca, "antecedent").join(cb, "consequent")
        .select(
            "antecedent", "consequent",
            F.col("_pc").alias("pair_count"),
            "antecedent_count", "consequent_count",
            F.round(F.col("_pc").cast("double") / F.lit(float(n_baskets)), 6)
            .alias("support"),
            conf.alias("confidence"),
            F.round((F.col("_pc").cast("double") / F.col("antecedent_count"))
                    / (F.col("consequent_count").cast("double")
                       / F.lit(float(n_baskets))), 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(top_k)
    )


def holt_forecast(
    df: DataFrame, key_col: str, t_col: str, value_col: str,
    alpha: float = 0.5, beta: float = 0.5, horizon: int = 3,
) -> DataFrame:
    """Holt linear-trend (double-exponential smoothing) forecast per
    key over an already-aggregated ordered series:
    ``level' = a*y + (1-a)*(level + trend)``,
    ``trend' = b*(level' - level) + (1-b)*trend``, initialized
    ``level = y[1], trend = y[1] - y[0]`` and folded over ``y[2:]``;
    ``forecast = level + horizon * trend``. On an exactly linear
    series the fold tracks it exactly (level = last point, trend =
    slope) for any a, b.

    Holt's recursion is inherently sequential — unexpressible as a
    fixed lag composition (unlike :func:`ewma`'s truncated form) — so
    it runs as ONE in-row ``F.aggregate`` fold over the per-key series
    collected into an array. That array is bounded by the number of
    TIME BUCKETS (the seasonal_decompose discipline: recursion runs on
    the aggregated series, never the raw events), and the fold's
    left-to-right IEEE op order is fixed, so a DuckDB ``list_reduce``
    replaying the same expressions is bit-identical. Keep ``alpha`` /
    ``beta`` dyadic (0.5, 0.25 ...) so the literals are exact under
    any decimal->double conversion. Keys with < 2 points are dropped
    (no trend is defined).

    Scale shape: one shuffle keyed by ``key_col`` for the
    collect_list, then everything is per-row array work on |keys|
    rows. Returns (key, n_points, level, trend, forecast), rounded 6.
    """
    a, b = float(alpha), float(beta)
    series = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col(t_col).alias("t"),
            F.col(value_col).cast("double").alias("v")))),
        lambda s: s.v)
    g = (
        df.groupBy(key_col)
        .agg(series.alias("_vals"),
             F.count(F.lit(1)).cast("long").alias("n_points"))
        .filter(F.size("_vals") >= 2)
    )
    state = _holt_fold(F.col("_vals"), a, b)
    return g.select(
        key_col, "n_points",
        F.round(state.getField("l"), 6).alias("level"),
        F.round(state.getField("t"), 6).alias("trend"),
        F.round(state.getField("l")
                + F.lit(horizon) * state.getField("t"), 6).alias("forecast"),
    )


def linreg(
    df: DataFrame, group_cols: list[str], x_col: str, y_col: str,
    scale: int = 2,
) -> DataFrame:
    """Per-group simple OLS regression (y = slope*x + intercept) with
    R² — from EXACT integer moments: x and y are rounded to ``scale``
    decimals and the five sufficient statistics (Σx, Σy, Σx², Σy²,
    Σxy) accumulate as 128-bit exact integers (Spark DECIMAL(38,0) /
    DuckDB HUGEINT), so the aggregation is order-independent at any
    parallelism; only the final per-group scalar arithmetic happens in
    DOUBLE, as one fixed expression both engines evaluate in the same
    IEEE op order. Groups with zero x-variance get NULL
    slope/intercept/r2 (division guard, not NaN).

    Scale shape: one hash aggregate (partial+final, 5 sums + a count);
    everything after runs on |groups| rows. The classic "regression at
    100 TB is one groupBy" — no second pass, no centering pass, no
    driver math. Returns (*group_cols, n, slope, intercept, r2)
    rounded to 6."""
    m = 10 ** scale
    # decimal(18,0) operands -> decimal(37,0) products: exact, and the
    # sum widens to decimal(38,0) (128-bit) without precision clamping
    xs = F.round(F.col(x_col) * m).cast("decimal(18,0)")
    ys = F.round(F.col(y_col) * m).cast("decimal(18,0)")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xs).alias("_sx"), F.sum(ys).alias("_sy"),
        F.sum(xs * xs).alias("_sxx"), F.sum(ys * ys).alias("_syy"),
        F.sum(xs * ys).alias("_sxy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / den
    return agg.select(
        *group_cols, "n",
        F.when(den != 0, F.round(slope, 6)).alias("slope"),
        F.when(den != 0, F.round((sy - slope * sx) / (n * F.lit(float(m))), 6))
        .alias("intercept"),
        F.when((den != 0) & (deny != 0),
               F.round((num * num) / (den * deny), 6)).alias("r2"),
    )


def cusum_changepoints(
    df: DataFrame, key_col: str, t_col: str, value_col: str,
    threshold: float, drift: float = 0.0, scale: int = 2,
    alarms_only: bool = True,
) -> DataFrame:
    """Two-sided CUSUM change detection per key over an ordered series:
    ``s+_t = max(0, s+_{t-1} + (x_t - target - drift))`` (and the
    mirrored s-), alarm when either statistic exceeds ``threshold``.
    The in-control target is the per-key integer-floored mean of the
    whole series (cents), the textbook known-mean CUSUM with the mean
    estimated from the series itself.

    The recursion is NOT run as a recursion: with cumulative sums
    ``cs_t = Σ(x_i - target - drift)``, the reset-at-zero CUSUM is
    identically ``s_t = cs_t - min(0, min_{j<=t} cs_j)`` — one window
    cumsum plus one running min, both over exact integer cents, so the
    whole statistic is window-only (no fold, no localCheckpoint) and
    bit-deterministic on any engine. ``t_col`` must be unique per key
    (an aggregated series — the seasonal_decompose discipline).

    Scale shape: one |keys|-row target aggregate broadcast back, then
    two window passes over the series. Returns (key, t, value, s_pos,
    s_neg, alarm_pos, alarm_neg); ``alarms_only`` keeps breach rows.
    """
    m = 10 ** scale
    h_c = int(round(threshold * m))
    d_c = int(round(drift * m))
    c = df.select(
        F.col(key_col), F.col(t_col),
        F.col(value_col).cast("double").alias("_val"),
        F.round(F.col(value_col) * m).cast("long").alias("_c"))
    tgt = c.groupBy(key_col).agg(
        F.expr("sum(_c) div count(*)").cast("long").alias("_t0"))
    w = (Window.partitionBy(key_col).orderBy(t_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    csp = F.sum(F.col("_c") - F.col("_t0") - F.lit(d_c)).over(w)
    csn = F.sum(F.col("_t0") - F.col("_c") - F.lit(d_c)).over(w)
    out = (
        c.join(F.broadcast(tgt), key_col)
        # windows don't nest: materialize the cumsums, then running-min
        .select(key_col, t_col, F.col("_val"),
                csp.alias("_csp"), csn.alias("_csn"))
        .select(
            key_col, t_col, F.col("_val"),
            (F.col("_csp")
             - F.least(F.min("_csp").over(w), F.lit(0))).alias("_sp"),
            (F.col("_csn")
             - F.least(F.min("_csn").over(w), F.lit(0))).alias("_sn"))
        .select(
            key_col, t_col,
            F.round(F.col("_val"), 6).alias("value"),
            F.round(F.col("_sp").cast("double") / m, 6).alias("s_pos"),
            F.round(F.col("_sn").cast("double") / m, 6).alias("s_neg"),
            (F.col("_sp") > h_c).alias("alarm_pos"),
            (F.col("_sn") > h_c).alias("alarm_neg"))
    )
    if alarms_only:
        out = out.filter(F.col("alarm_pos") | F.col("alarm_neg"))
    return out


def attribution(
    events: DataFrame, touch_types: list[str], conversion_type: str,
    key_col: str = "user_id", ts_col: str = "ts",
    id_col: str = "event_id", type_col: str = "event_type",
    value_col: str = "value", model: str = "last",
) -> DataFrame:
    """Single-touch marketing attribution: for every conversion event,
    the touch event that gets credit — ``model='last'`` credits the
    most recent touch STRICTLY BEFORE the conversion, ``'first'`` the
    user's earliest touch before it. Conversions with no prior touch
    keep a NULL attribution (honest unattributed bucket, not a dropped
    row). Ties on the timestamp break by ``id_col`` so the credited
    touch is deterministic on any engine.

    One window pass: the candidate touch struct (ts, id, type) is
    carried by ``last``/``first`` with ignorenulls over the per-user
    ROWS frame ending at 1 PRECEDING — no self-join of conversions
    against touches (the join formulation shuffles the event table
    twice and skews on heavy users; the window form is one
    user-keyed sort). Returns one row per conversion: (key, id, ts,
    value, touch_type, touch_ts, touch_id)."""
    w = (Window.partitionBy(key_col).orderBy(ts_col, id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.when(
        F.col(type_col).isin(*touch_types),
        F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"),
                 F.col(type_col).alias("y")))
    pick = F.last(touch, ignorenulls=True) if model == "last" \
        else F.first(touch, ignorenulls=True)
    return (
        events.withColumn("_a", pick.over(w))
        .filter(F.col(type_col) == conversion_type)
        .select(F.col(key_col), F.col(id_col), F.col(ts_col),
                F.col(value_col).alias("value"),
                F.col("_a.y").alias("touch_type"),
                F.col("_a.t").alias("touch_ts"),
                F.col("_a.i").alias("touch_id"))
    )


def transition_matrix(
    events: DataFrame, key_col: str = "user_id", ts_col: str = "ts",
    id_col: str = "event_id", type_col: str = "event_type",
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: for every adjacent pair in a user's (ts, id)-ordered
    stream, count (from_type, to_type) and normalize per source row —
    the "what do users do next" journey matrix. Ties on the timestamp
    order by ``id_col`` so adjacency is deterministic.

    Shape: one per-user window (lag) produces the pair stream in the
    same pass as the sort; counts are a |types²|-row aggregate and the
    row normalizer is a window over that tiny matrix — nothing after
    the lag touches event-cardinality data with a second shuffle.
    Returns (from_type, to_type, n_transitions, p) with p rounded 6.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    pairs = (
        events.withColumn("_from", F.lag(type_col).over(w))
        .filter(F.col("_from").isNotNull())
    )
    counts = pairs.groupBy(
        F.col("_from").alias("from_type"),
        F.col(type_col).alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    row_w = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n_transitions",
        F.round(F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(row_w), 6).alias("p"))


def ab_arms(
    events: DataFrame, conversion: Column,
    key_col: str = "user_id", salt: str = "ab",
) -> DataFrame:
    """Salted-hash A/B arm aggregate shared by :func:`ab_test` and the
    Wilson-CI readout: per arm, user count and converted-user count —
    ONE definition of the arm hash and the per-user conversion so the
    z readout and the CIs can never describe different experiments."""
    from db_spark.llm.dedup import h32

    variant = F.when(
        h32(F.concat(F.lit(salt), F.col(key_col).cast("string"))) % 2 == 0,
        F.lit("A")).otherwise(F.lit("B"))
    per_user = events.groupBy(F.col(key_col)).agg(
        F.max(conversion.cast("int")).alias("_conv"))
    return (
        per_user.select(variant.alias("arm"), "_conv")
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
             F.sum("_conv").cast("long").alias("n_conv"))
    )


def ab_test(
    events: DataFrame, conversion: Column,
    key_col: str = "user_id",
    salt: str = "ab", alpha_z: float = 1.96,
) -> DataFrame:
    """Two-proportion A/B test harness: users are assigned to variants
    by a stable salted content hash (no RNG state — the same user
    lands in the same arm on any engine, any partitioning, any rerun;
    `df.sample` seeds are partition-dependent and do not), conversion
    is "does any of the user's events satisfy the ``conversion``
    predicate", and the readout is the pooled two-proportion z
    statistic. sqrt is IEEE correctly-rounded, so the one double
    expression is engine-exact; a zero-variance pool (0% or 100%
    conversion — z undefined) yields NULL z, not a crash.

    Shape: one user-keyed aggregate (exists-conversion per user), one
    2-row variant aggregate, then scalar arithmetic on 2 rows pivoted
    to one. Returns a single row (n_a, conv_a, rate_a, n_b, conv_b,
    rate_b, z, significant)."""
    arms = ab_arms(events, conversion, key_col, salt)
    one = arms.groupBy().agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("conv_b"))
    na, ca = F.col("n_a").cast("double"), F.col("conv_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("conv_b").cast("double")
    pa, pb = ca / na, cb / nb
    pool = (ca + cb) / (na + nb)
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = F.when(se > 0, F.round((pa - pb) / se, 6))
    return one.select(
        "n_a", "conv_a", F.round(pa, 6).alias("rate_a"),
        "n_b", "conv_b", F.round(pb, 6).alias("rate_b"),
        z.alias("z"),
        (F.abs(z) > alpha_z).alias("significant"))


def survival_curve(
    df: DataFrame, duration_col: str, event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimator over one row per subject
    (duration, event-observed 0/1; 0 = right-censored): for each
    distinct event duration t, the at-risk count n_t (subjects with
    duration >= t), observed events d_t, and the product-limit
    survival ``S(t) = Π_{t' <= t} (1 - d_t'/n_t')``.

    The KM product is inherently sequential, so it follows the Holt
    discipline: aggregate FIRST (the per-duration (d, n) table is
    bounded by distinct durations — days/weeks, never subjects), then
    run the product as one in-row left-to-right fold over the
    collected table, identical IEEE op order on every engine (the
    oracle steps the same recursion as a recursive CTE). At-risk
    counts come from a descending window sum — exact integers.
    Censored-only durations contribute to the risk set but emit no
    curve row (standard KM: the curve steps only at event times).
    Returns (duration, n_risk, n_events, survival) rounded 6."""
    per_t = df.groupBy(F.col(duration_col).alias("_t")).agg(
        F.sum(F.col(event_col).cast("long")).alias("_d"),
        F.count(F.lit(1)).cast("long").alias("_c"))
    w = (Window.orderBy(F.desc("_t"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    km = (per_t.withColumn("_n", F.sum("_c").over(w))
          .filter(F.col("_d") > 0))
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("_t").alias("t"), F.col("_d").alias("d"),
        F.col("_n").alias("n"))))
    out_t = ("array<struct<duration:bigint,n_risk:bigint,"
             "n_events:bigint,survival:double>>")

    def step(acc, x):
        s = acc.s * (1 - x.d.cast("double") / x.n.cast("double"))
        return F.struct(
            s.alias("s"),
            F.concat(acc.out, F.array(F.struct(
                x.t.alias("duration"), x.n.alias("n_risk"),
                x.d.alias("n_events"),
                F.round(s, 6).alias("survival")))).alias("out"))

    folded = km.agg(arr.alias("_a")).select(
        F.aggregate(
            F.col("_a"),
            # the zero element must be an EMPTY typed array — a NULL
            # array poisons every concat and the fold returns nothing
            F.struct(F.lit(1.0).alias("s"),
                     F.expr(f"CAST(array() AS {out_t})").alias("out")),
            step).alias("_st"))
    return folded.select(
        F.explode(F.col("_st").getField("out")).alias("_r")
    ).select("_r.duration", "_r.n_risk", "_r.n_events", "_r.survival")


def funnel_latency(
    events: DataFrame, steps: list[str],
    user_col: str = "user_id", type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Step-to-step conversion latency over the same greedy min-cascade
    as :func:`funnel`: for each user completing step k, the
    whole-second gap between their step-(k-1) and step-k frontiers;
    per adjacent step pair, the rank-exact median (middle-two average)
    and p90 (integer rank ``ceil(9n/10)`` — computed as
    ``(9n+9) div 10``, never a float multiply whose representation
    error could shift the rank) of those gaps. No engine percentile
    interpolation anywhere, so both engines agree bit-for-bit.

    Shape: the cascade is k step-filtered user-keyed aggregates (the
    funnel discipline — per-stage shuffle is that stage's event type
    only); gap percentiles add one rank window per step pair over
    |completers| rows. Returns (step, from_type, to_type, n_users,
    median_gap_s, p90_gap_s)."""
    _es = _epoch_seconds
    cur = (events.filter(F.col(type_col) == steps[0])
           .groupBy(user_col).agg(F.min(ts_col).alias("_t")))
    gaps = None
    for i, s in enumerate(steps[1:], start=1):
        nxt = (
            events.filter(F.col(type_col) == s)
            .join(cur.select(user_col, "_t"), user_col)
            .filter(F.col(ts_col) > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t2"), F.min("_t").alias("_tp"))
        )
        g = nxt.select(
            F.lit(i).cast("int").alias("step"),
            F.lit(steps[i - 1]).alias("from_type"),
            F.lit(s).alias("to_type"),
            F.col(user_col),
            (_es(F.col("_t2")) - _es(F.col("_tp")))
            .cast("long").alias("_gap"))
        gaps = g if gaps is None else gaps.unionByName(g)
        cur = nxt.select(user_col, F.col("_t2").alias("_t"))
    keys = ["step", "from_type", "to_type"]
    ranked = gaps.withColumn("_rn", F.row_number().over(
        Window.partitionBy(*keys).orderBy("_gap", user_col)))
    nn = ranked.groupBy(*keys).agg(F.max("_rn").cast("long").alias("_n"))
    med = (
        ranked.join(F.broadcast(nn), keys)
        .filter((F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
                | (F.col("_rn") == F.floor(F.col("_n") / 2) + 1))
        .groupBy(*keys)
        .agg(((F.min("_gap") + F.max("_gap")) / 2.0).alias("median_gap_s"))
    )
    p90 = (
        ranked.join(F.broadcast(nn), keys)
        .filter(F.col("_rn") == F.expr("(9 * _n + 9) div 10"))
        .groupBy(*keys)
        .agg(F.min("_gap").cast("long").alias("p90_gap_s"))
    )
    return (nn.join(med, keys).join(p90, keys)
            .select(*keys, F.col("_n").alias("n_users"),
                    "median_gap_s", "p90_gap_s"))


def holt_backtest(
    df: DataFrame, key_col: str, t_col: str, value_col: str,
    holdout: int = 3, alpha: float = 0.5, beta: float = 0.5,
) -> DataFrame:
    """Holdout backtest of :func:`holt_forecast` against the naive
    last-value baseline — the evaluation that justifies shipping a
    forecaster: fit Holt on the first n-h points, forecast the held-out
    h, and report MAE against the naive forecast's MAE as a skill
    ratio (< 1 = beats naive; MASE-style, per key). Everything runs
    in-row on the collected series (aggregate-first discipline): the
    train fold is the holt_forecast fold bounded to the prefix, and
    both error sums fold left-to-right over the h holdout positions —
    fixed IEEE op order, engine-exact, oracle-replayable. Keys with
    < h+2 points are dropped (no train trend). Returns (key, n_points,
    level, trend, mae_holt, mae_naive, skill) rounded 6."""
    a, b = float(alpha), float(beta)
    h = int(holdout)
    series = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.col(t_col).alias("t"),
            F.col(value_col).cast("double").alias("v")))),
        lambda s: s.v)
    g = (df.groupBy(key_col)
         .agg(series.alias("_vals"),
              F.count(F.lit(1)).cast("long").alias("n_points"))
         .filter(F.size("_vals") >= h + 2))
    vals, n = F.col("_vals"), F.size(F.col("_vals"))
    train = F.slice(vals, 1, n - h)
    state = _holt_fold(train, a, b)
    lvl, tr = state.getField("l"), state.getField("t")
    lastv = F.element_at(vals, (n - h).cast("int"))

    def y_at(j):
        return F.element_at(vals, (n - h + j).cast("int"))

    errs = F.aggregate(
        F.sequence(F.lit(1), F.lit(h)),
        F.struct(F.lit(0.0).alias("eh"), F.lit(0.0).alias("en")),
        lambda acc, j: F.struct(
            (acc.eh + F.abs(lvl + j.cast("double") * tr - y_at(j)))
            .alias("eh"),
            (acc.en + F.abs(lastv - y_at(j))).alias("en")))
    eh, en = errs.getField("eh"), errs.getField("en")
    return g.select(
        key_col, "n_points",
        F.round(lvl, 6).alias("level"),
        F.round(tr, 6).alias("trend"),
        F.round(eh / F.lit(float(h)), 6).alias("mae_holt"),
        F.round(en / F.lit(float(h)), 6).alias("mae_naive"),
        F.when(en > 0, F.round(eh / en, 6)).alias("skill"),
    )


def rolling_corr(
    df: DataFrame, t_col: str, x_col: str, y_col: str,
    window_rows: int = 24, key_col: str | None = None, scale: int = 2,
) -> DataFrame:
    """Rolling Pearson correlation between two aligned series over a
    trailing ROWS window: the five sufficient statistics are WINDOW
    SUMS OF EXACT INTEGERS (scaled cents and their products — integer
    addition is order-independent, so the frame sums are
    bit-identical on any engine, unlike double window sums which
    drift), and the correlation finale is one shared double
    expression per row. Frames with zero variance on either side get
    NULL corr. ``t_col`` must be unique (per key) — an aligned,
    aggregated series.

    Shape: one sorted window pass; products stay BIGINT (cents² x
    window — bounded; use a smaller ``scale`` for huge windows).
    Returns the input keys/time plus (n_window, corr)."""
    m = 10 ** scale
    xs = F.round(F.col(x_col) * m).cast("long")
    ys = F.round(F.col(y_col) * m).cast("long")
    part = [key_col] if key_col else []
    w = (Window.partitionBy(*part).orderBy(t_col)
         .rowsBetween(-(window_rows - 1), Window.currentRow))
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(xs).over(w).cast("double")
    sy = F.sum(ys).over(w).cast("double")
    sxx = F.sum(xs * xs).over(w).cast("double")
    syy = F.sum(ys * ys).over(w).cast("double")
    sxy = F.sum(xs * ys).over(w).cast("double")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    corr = F.when((denx > 0) & (deny > 0),
                  F.round(num / F.sqrt(denx * deny), 6))
    return df.select(
        *part, F.col(t_col),
        F.count(F.lit(1)).over(w).cast("long").alias("n_window"),
        corr.alias("corr"))


def wilson_bounds(conv, n, z: float = 1.96):
    """Wilson score interval (lo, hi) Column pair for a binomial
    proportion — the CI that stays inside [0,1] and behaves at small n
    where the normal approximation's doesn't. The z constant enters as
    the literal ``z * z`` PRODUCT of double literals (never a
    pre-multiplied 17-digit repr, and never DECIMAL arithmetic — the
    oracle writes ``CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)``), so
    both engines fold the identical IEEE sequence."""
    p = conv.cast("double") / n.cast("double")
    zc = F.lit(float(z))
    zz = zc * zc
    nd = n.cast("double")
    half = zc * F.sqrt((p * (1 - p) + zz / (4 * nd)) / nd)
    denom = 1 + zz / nd
    lo = (p + zz / (2 * nd) - half) / denom
    hi = (p + zz / (2 * nd) + half) / denom
    # + 0.0 normalizes IEEE negative zero (a 0-conversion arm computes
    # -0.0 on one engine and 0.0 on the other; -0.0 + 0.0 == +0.0)
    return F.round(lo, 6) + F.lit(0.0), F.round(hi, 6) + F.lit(0.0)
