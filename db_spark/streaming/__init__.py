"""Streaming operators (Structured Streaming) + event-time windowing.

The reference has no streaming story (SURVEY §2.3 gap). Here:

- window aggregations (tumbling / sliding / session) as plain Column
  expressions — identical code path for batch DataFrames and streaming
  DataFrames (Spark's unified model);
- ``stream_*`` helpers wiring readStream → watermark → window agg →
  sink, with late-data handling;
- a custom stateful operator via ``applyInPandasWithState``
  (per-key running aggregation with timeout), the Spark-idiomatic
  equivalent of a hand-rolled stateful stream operator.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# Event-time window aggregations (batch + streaming)
# ---------------------------------------------------------------------------

def tumbling_window_agg(
    df: DataFrame, ts_col: str, duration: str, group_cols: list[str], aggs: list,
) -> DataFrame:
    """Non-overlapping event-time windows, e.g. duration='1 hour'."""
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("win"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("win.start"))
        .withColumn("window_end", F.col("win.end"))
        .drop("win")
    )


def sliding_window_agg(
    df: DataFrame, ts_col: str, duration: str, slide: str,
    group_cols: list[str], aggs: list,
) -> DataFrame:
    return (
        df.groupBy(F.window(F.col(ts_col), duration, slide).alias("win"), *group_cols)
        .agg(*aggs)
        .withColumn("window_start", F.col("win.start"))
        .withColumn("window_end", F.col("win.end"))
        .drop("win")
    )


def session_window_agg(
    df: DataFrame, ts_col: str, gap: str, group_cols: list[str], aggs: list,
) -> DataFrame:
    """Session windows: events closer than ``gap`` merge into one session."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("win"), *group_cols)
        .agg(*aggs)
        .withColumn("session_start", F.col("win.start"))
        .withColumn("session_end", F.col("win.end"))
        .drop("win")
    )


# ---------------------------------------------------------------------------
# Streaming pipelines
# ---------------------------------------------------------------------------

def stream_from_files(
    spark, path: str, schema: T.StructType, fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_counts_stream(
    events: DataFrame, ts_col: str = "ts", duration: str = "1 hour",
    watermark: str = "2 hours", group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts with a watermark: events later than
    ``watermark`` behind the max seen event time are dropped and window
    state is garbage-collected — the standard late-data policy."""
    group_cols = group_cols or ["event_type"]
    return tumbling_window_agg(
        events.withWatermark(ts_col, watermark),
        ts_col, duration, group_cols,
        [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value")],
    )


def run_stream_to_memory(stream_df: DataFrame, name: str, mode: str = "append"):
    """Drain all available input into an in-memory sink (testing/driver
    verification); returns the finished query."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _drain(stream_df: DataFrame, sink, checkpoint: str):
    """Run ``sink`` as the ``foreachBatch`` sink of ``stream_df`` over
    all available input, checkpointed at ``checkpoint``, and stop
    (availableNow); returns the finished query."""
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_stream_join(
    left: DataFrame, right: DataFrame, condition,
    left_ts: str, left_watermark: str,
    right_ts: str, right_watermark: str,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join. ``condition`` must include an
    event-time bound between the two sides (e.g. right_ts between
    left_ts and left_ts + interval 30 minutes) so Spark can bound the
    join state and garbage-collect it past the watermarks — unbounded
    state is the classic stream-join failure mode at scale. Works
    identically on batch DataFrames (the bound is then just a range
    predicate)."""
    l = left.withWatermark(left_ts, left_watermark)
    r = right.withWatermark(right_ts, right_watermark)
    return l.join(r, condition, how)


def streaming_dedup(
    stream: DataFrame, keys: list[str], ts_col: str, watermark: str,
) -> DataFrame:
    """Exactly-once-per-key emission over a stream: state is kept only
    ``watermark`` long (dropDuplicatesWithinWatermark), so dedup over an
    infinite stream runs in bounded memory — duplicates arriving within
    the watermark window are suppressed, state for older keys is GC'd."""
    s = stream.withWatermark(ts_col, watermark)
    return s.dropDuplicatesWithinWatermark(keys)


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Per-user running totals as an explicit stateful stream operator —
    the applyInPandasWithState path for semantics the built-in windowed
    aggs can't express (custom state transitions / eviction)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [total]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
])

_SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
])


def sessionize_stateful(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Streaming sessionizer with event-time-timeout state: per user,
    events closer than ``gap_seconds`` merge into one session; a
    session is EMITTED only when it closes — either an in-batch event
    arrives past the gap, or the state times out once the watermark
    passes last_event + gap (the built-in session_window can't emit
    per-session custom payloads or apply custom close rules; this is
    the applyInPandasWithState escape hatch for exactly that).

    State per key is three integers — O(1) however long the session —
    and timeout eviction means idle users cost nothing after
    watermark + gap. Requires a watermark on the input for
    EventTimeTimeout to fire."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_seconds) * 1_000_000

    def _emit(user_id, start_us, last_us, n):
        return pd.DataFrame({
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start_us, unit="us")],
            "session_end": [pd.Timestamp(last_us, unit="us")],
            "n_events": [n],
        })

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield _emit(user_id, start_us, last_us, n)
            return
        ts_us = []
        for pdf in pdfs:
            ts_us.extend(
                pdf["ts"].astype("datetime64[us]").astype("int64").tolist())
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = ts_us[0], ts_us[0] - gap_us - 1, 0
        for t in ts_us:
            if t - last_us > gap_us and n > 0:
                yield _emit(user_id, start_us, last_us, n)
                start_us, n = t, 0
            elif n == 0:
                start_us = t
            last_us = t
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming ingestion into an MVCC collection (foreachBatch sink)
# ---------------------------------------------------------------------------

def stream_into_collection(
    stream_df: DataFrame, collection, checkpoint: str,
    id_col: str = "_id", txid: str | None = None,
):
    """Continuously upsert a stream into a log-structured Collection —
    each micro-batch becomes one append of U-entries (exactly-once per
    batch via the checkpoint; a later duplicate id simply supersedes the
    older version under MVCC, so replays are idempotent in the
    snapshot). Runs with availableNow (drain + stop); pass a different
    trigger via .trigger on the returned query's restart if needed."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        collection.set_objects(txid, batch_df, id_col=id_col)

    return _drain(stream_df, _sink, checkpoint)


# ---------------------------------------------------------------------------
# Streaming sketch maintenance (foreachBatch + mergeable sketch state)
# ---------------------------------------------------------------------------

def _stream_sketch_sink(
    stream_df: DataFrame, state_dir: str, checkpoint: str,
    batch_sketch_fn, merge_fn,
):
    """Epoch-versioned sketch-state sink: sketch each micro-batch
    (bounded rows), merge it into the persisted state, write the result
    as ``epoch-{n+1}`` and swap the meta pointer. Exactly-once comes
    from a batch-id watermark: the meta pointer records the last merged
    ``batch_id`` (a pointer without one reads as -1), and a re-delivered
    batch (checkpoint recovery replays at most the last uncommitted one,
    with the same id) is skipped. That is required for counter sketches
    (histogram, count-min), whose additive merge would double-count a
    replay, and as correct as re-merging for the idempotent KMV/HLL
    merges. The state write + meta swap ordering makes the failure
    window safe: if the crash lands after the state write but before
    the swap, the replay simply rewrites the same epoch directory and
    then swaps. One prior epoch is kept for readers holding a lazy
    DataFrame; every older one is reaped, including any a crash between
    the swap and the reap left behind (same pattern as matview)."""
    import json
    import os
    import shutil

    meta_path = os.path.join(state_dir, "meta.json")

    def _meta():
        if not os.path.exists(meta_path):
            return {"epoch": -1}
        with open(meta_path) as f:
            return json.load(f)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        meta = _meta()
        if batch_id <= meta.get("last_batch", -1):
            return  # replayed batch: already in the state, skip
        spark = batch_df.sparkSession
        batch_sketch = batch_sketch_fn(batch_df)
        cur = meta["epoch"]
        if cur >= 0:
            state = spark.read.parquet(os.path.join(state_dir, f"epoch-{cur}"))
            merged = merge_fn(state, batch_sketch)
        else:
            merged = batch_sketch
        new = cur + 1
        os.makedirs(state_dir, exist_ok=True)
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"epoch-{new}"))
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"epoch": new, "last_batch": batch_id}, f)
        os.replace(tmp, meta_path)
        for d in os.listdir(state_dir):
            if d.startswith("epoch-") and d[6:].isdigit() \
                    and int(d[6:]) <= new - 2:
                shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)

    return _drain(stream_df, _sink, checkpoint)


def stream_sketch_kmv(
    stream_df: DataFrame, column: str, state_dir: str, checkpoint: str,
    k: int = 64, group_cols: list[str] | None = None,
):
    """Maintain a KMV distinct-count sketch over a stream: each
    micro-batch is sketched (bounded <= k rows per group) and
    ``kmv_merge``d into the persisted state. The merge law
    (merge(sketch(A), sketch(B)) == sketch(A ∪ B), property-tested in
    tests/test_sketch_properties.py) makes the maintained state exactly
    the sketch of everything ever seen. A replayed batch is skipped by
    the sink's batch-id watermark (re-merging it would be a no-op too:
    KMV state is a distinct min-k hash set).

    State is epoch-versioned parquet (``_stream_sketch_sink``, same
    pattern as matview): write ``epoch-{n+1}``, swap the meta pointer,
    keep one prior epoch for readers holding a lazy DataFrame. Per-batch
    state I/O is <= k rows per group — the stream's cardinality never
    touches the state path.
    """
    from db_spark.sketch import kmv_merge, kmv_sketch

    groups = group_cols or []
    return _stream_sketch_sink(
        stream_df, state_dir, checkpoint,
        lambda b: kmv_sketch(b, F.col(column), k=k, group_cols=groups),
        lambda s, b: kmv_merge(s, b, k=k, group_cols=groups),
    )


def stream_sketch_hll(
    stream_df: DataFrame, column: str, state_dir: str, checkpoint: str,
    p: int = 8, group_cols: list[str] | None = None,
):
    """Maintain a HyperLogLog sketch over a stream: per-batch register
    tables (<= 2^p rows per group) merge into the persisted state by
    register-wise MAX (idempotent: MAX of a re-delivered batch changes
    nothing). Same batch-id watermark, epoch-versioned state layout and
    merge law (tests/test_sketch_properties.py::test_hll_merge_law) as the
    KMV sink; choose HLL when per-group state must stay a few hundred
    bytes at any cardinality."""
    from db_spark.sketch import hll_merge, hll_sketch

    groups = group_cols or []
    return _stream_sketch_sink(
        stream_df, state_dir, checkpoint,
        lambda b: hll_sketch(b, F.col(column), p=p, group_cols=groups),
        lambda s, b: hll_merge(s, b, group_cols=groups),
    )


def stream_sketch_hist(
    stream_df: DataFrame, column: str, state_dir: str, checkpoint: str,
    lo: float, hi: float, buckets: int = 256,
    group_cols: list[str] | None = None,
):
    """Maintain an equi-width histogram over a stream: each micro-batch
    reduces to <= ``buckets`` counter rows per group and adds into the
    persisted state (``hist_merge``). Counters are additive — a replay
    would double-count — so replay safety rests on the batch-id
    watermark of ``_stream_sketch_sink`` alone (for the KMV/HLL
    min/max state a replay is also algebraically a no-op). Downstream:
    `hist_quantile`
    for streaming quantiles, `analytics.psi_drift`-style comparisons
    against a reference histogram with no rescan."""
    from db_spark.sketch import hist_merge, hist_sketch

    groups = group_cols or []
    return _stream_sketch_sink(
        stream_df, state_dir, checkpoint,
        lambda b: hist_sketch(b, F.col(column), lo, hi, buckets,
                              group_cols=groups),
        lambda s, b: hist_merge(s, b, group_cols=groups),
    )


def stream_sketch_cm(
    stream_df: DataFrame, column: str, state_dir: str, checkpoint: str,
    depth: int = 4, width: int = 1024,
    group_cols: list[str] | None = None,
):
    """Maintain a count-min frequency sketch over a stream: per-batch
    <= depth×width counter cells merge cell-wise into the persisted
    state. Same batch-id-watermark exactly-once as
    ``stream_sketch_hist`` (additive counters). Downstream:
    `cm_estimate` / `cm_heavy_hitters` over the maintained state."""
    from db_spark.sketch import cm_merge, cm_sketch

    groups = group_cols or []
    return _stream_sketch_sink(
        stream_df, state_dir, checkpoint,
        lambda b: cm_sketch(b, F.col(column), depth=depth, width=width,
                            group_cols=groups),
        lambda s, b: cm_merge(s, b, group_cols=groups),
    )


def read_sketch_state(spark, state_dir: str) -> DataFrame:
    """Current sketch state (raise if no epoch has committed yet)."""
    import json
    import os

    with open(os.path.join(state_dir, "meta.json")) as f:
        epoch = json.load(f)["epoch"]
    return spark.read.parquet(os.path.join(state_dir, f"epoch-{epoch}"))


def stream_changes(collection, include_uncommitted: bool = False):
    """The MVCC log as a streaming CDC SOURCE: log segments are
    append-only parquet files, which is exactly Structured Streaming's
    file-source contract — so `readStream` over the collection's log
    directory yields every new U/D entry as it lands, with no extra
    change-capture machinery. The dual of `stream_into_collection`
    (stream → log); this is log → stream: feed downstream pipelines,
    audit sinks, or cache invalidation from the same files the table
    itself is.

    By default only auto-visible (nil-txid) entries stream — committed
    transactional writes land as files BEFORE their commit marker, so a
    transactional entry streamed at file-arrival time may still abort;
    set ``include_uncommitted=True`` to take that feed anyway (with
    `_txid` exposed so the consumer can reconcile against markers).
    Schema is pinned from the current log (file sources require one);
    fix the collection's shape before streaming it.

    Caveat at scale: compaction REWRITES segments (new files with old
    entries) — pause compaction on collections used as live CDC
    sources, or key downstream idempotency on (_batch, _seq), which
    compaction preserves."""
    from pyspark.sql import functions as F  # noqa: F811

    log = collection.log_entries()
    if log is None:
        raise ValueError(
            f"collection {collection.name!r} has no log yet — write to "
            "it before streaming its changes")
    stream = (
        collection.spark.readStream.schema(log.schema)
        .option("mergeSchema", "true")
        .parquet(collection.log_path)
        .filter(F.col("_kind").isin("U", "D"))
    )
    if not include_uncommitted:
        from db_spark.table import NIL_TXID
        stream = stream.filter(F.col("_txid") == NIL_TXID)
    return stream


def stream_dq_reports(
    stream_df: DataFrame, rules, out_dir: str, checkpoint: str,
):
    """Continuous data-quality monitoring: run the `db_spark.quality`
    rule suite on every micro-batch and append the per-batch report
    (rule, kind, violations, passed, batch_id) to ``out_dir`` — the
    verdict log a freshness/quality dashboard tails, and the feed an
    alerter filters on ``NOT passed``. Rows never leave the batch;
    only the counts do (the dq_report contract) — drill into a bad
    batch afterwards with `quality.dq_violations` on its source data.
    Exactly-once per batch via the parquet sink's checkpointed commit
    log (re-delivered batches overwrite their own batch_id rows is NOT
    needed: foreachBatch appends are guarded by the batch-id check)."""
    from pyspark.sql import functions as F  # noqa: F811

    from db_spark.quality import dq_report

    import json
    import os

    meta_path = os.path.join(out_dir, "_dq_meta.json")

    def _last() -> int:
        if not os.path.exists(meta_path):
            return -1
        with open(meta_path) as fh:
            return json.load(fh)["last_batch"]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty() or batch_id <= _last():
            return
        report = dq_report(batch_df, rules).withColumn(
            "batch_id", F.lit(batch_id).cast("long"))
        os.makedirs(out_dir, exist_ok=True)
        report.write.mode("append").parquet(os.path.join(out_dir, "log"))
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"last_batch": batch_id}, fh)
        os.replace(tmp, meta_path)

    return _drain(stream_df, _sink, checkpoint)


CUSUM_OUT_SCHEMA = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("n_batch", T.LongType()),
    T.StructField("s_pos", T.DoubleType()),
    T.StructField("s_neg", T.DoubleType()),
    T.StructField("alarm_pos", T.BooleanType()),
    T.StructField("alarm_neg", T.BooleanType()),
])

_CUSUM_STATE_SCHEMA = T.StructType([
    T.StructField("sp", T.LongType()),
    T.StructField("sn", T.LongType()),
])


def cusum_alerts_stateful(
    events: DataFrame, target: float, threshold: float, drift: float = 0.0,
) -> DataFrame:
    """Streaming CUSUM monitor — the stateful-stream counterpart of
    ``analytics.cusum_changepoints``: per event_type, the reset-at-zero
    statistics survive across micro-batches as two BIGINT cents in
    explicit state. The target must be a KNOWN in-control mean
    (streaming has no global-mean pass); within a batch rows process
    in event-time order, across batches in arrival order — the
    standard monitoring contract.

    The per-batch update is VECTORIZED via the carry-in form of the
    cumsum identity: with prior state s0 and deviation cumsums cs_i,
    ``s_i = max(0, cs_i - min(0, min_{j<i} cs_j), s0 + cs_i)`` — no
    per-row Python loop. ``alarm_*`` is true if the statistic crossed
    the threshold at ANY point in the batch, not just its end.
    Emits one row per key per batch (update mode)."""
    import numpy as np
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    t_c = int(round(target * 100))
    d_c = int(round(drift * 100))
    h_c = int(round(threshold * 100))

    def path(dev: "np.ndarray", s0: int) -> "np.ndarray":
        cs = np.cumsum(dev)
        prev_min = np.minimum.accumulate(
            np.concatenate(([0], cs[:-1])))
        return np.maximum(0, np.maximum(
            cs - np.minimum(0, prev_min), s0 + cs))

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (etype,) = key
        sp, sn = state.get if state.exists else (0, 0)
        ap = an = False
        # a group's micro-batch arrives as MULTIPLE Arrow chunks in
        # partition order (split at arrow.maxRecordsPerBatch): sorting
        # per chunk would run the path on a mis-ordered series, so
        # concat first and sort ONCE, event-id tiebreak for stability
        whole = pd.concat(list(pdfs), ignore_index=True)
        if len(whole):
            whole = whole.sort_values(["ts", "event_id"])
        n = len(whole)
        if n:
            c = np.rint(whole["value"].to_numpy(dtype=float) * 100) \
                .astype(np.int64)
            pp = path(c - t_c - d_c, sp)
            nn = path(t_c - c - d_c, sn)
            ap = bool((pp > h_c).any())
            an = bool((nn > h_c).any())
            sp, sn = int(pp[-1]), int(nn[-1])
        state.update((sp, sn))
        yield pd.DataFrame({
            "event_type": [etype], "n_batch": [n],
            "s_pos": [sp / 100.0], "s_neg": [sn / 100.0],
            "alarm_pos": [ap], "alarm_neg": [an]})

    return (
        events.groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=CUSUM_OUT_SCHEMA,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
