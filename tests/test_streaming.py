"""Structured Streaming: windowed aggs, watermark, stateful operator."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from db_spark import streaming as st

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


@pytest.fixture(scope="module")
def event_rows(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(200):
        rows.append((
            i, base + dt.timedelta(minutes=7 * i), i % 5,
            ["click", "view", "purchase"][i % 3], float(i),
        ))
    return rows


@pytest.fixture(scope="module")
def stream_dir(spark, event_rows, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    spark.createDataFrame(event_rows, EVENTS_SCHEMA).coalesce(2).write.mode(
        "overwrite").parquet(d)
    return d


def test_windowed_counts_stream_matches_batch(spark, stream_dir, event_rows):
    stream = st.stream_from_files(spark, stream_dir, EVENTS_SCHEMA)
    assert stream.isStreaming
    agg = st.windowed_counts_stream(stream, duration="1 hour", watermark="2 hours")
    st.run_stream_to_memory(agg, "win_counts")
    got = spark.sql("SELECT * FROM win_counts")

    batch = spark.createDataFrame(event_rows, EVENTS_SCHEMA)
    expected = st.tumbling_window_agg(
        batch, "ts", "1 hour", ["event_type"],
        [F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value")],
    )
    g = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
         for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
         for r in expected.collect()}
    # append mode emits only windows closed by the watermark: everything
    # emitted must match batch exactly; only trailing windows may be absent
    assert len(g) > 10
    assert all(e[k] == v for k, v in g.items())
    unemitted = set(e) - set(g)
    horizon = max(ws for ws, _ in e) if unemitted else None
    import datetime as dt
    assert all(ws >= horizon - dt.timedelta(hours=3) for ws, _ in unemitted)


def test_session_window_agg(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base), (1, base + dt.timedelta(minutes=5)),           # session 1
        (1, base + dt.timedelta(minutes=60)),                      # session 2
        (2, base + dt.timedelta(minutes=1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = st.session_window_agg(df, "ts", "10 minutes", ["user_id"],
                                [F.count(F.lit(1)).alias("n")])
    got = sorted([(r["user_id"], r["n"]) for r in out.collect()])
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_stateful_running_totals(spark, stream_dir):
    stream = st.stream_from_files(spark, stream_dir, EVENTS_SCHEMA)
    totals = st.running_totals_stateful(stream)
    st.run_stream_to_memory(totals, "running_totals", mode="update")
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.sql(
               "SELECT user_id, max(n_events) n_events, max(total_value) total_value "
               "FROM running_totals GROUP BY user_id").collect()}
    assert got[0][0] == 40  # 200 events over 5 users
    assert sum(v[0] for v in got.values()) == 200


def test_watermark_late_data_dropped(spark, tmp_path):
    """Late rows beyond the watermark are excluded from closed windows."""
    import datetime as dt

    d = str(tmp_path / "late")
    base = dt.datetime(2024, 1, 1)
    batch1 = [(1, base + dt.timedelta(hours=h), 1, "click", 1.0) for h in range(6)]
    late = [(99, base - dt.timedelta(hours=10), 1, "click", 1.0)]
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = st.stream_from_files(spark, d, EVENTS_SCHEMA)
        agg = st.windowed_counts_stream(stream, duration="1 hour", watermark="1 hour")
        q = (agg.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    # run 1: on-time data advances the watermark to base+4h (persisted in
    # the checkpoint); run 2: the 10h-late row must be dropped.
    spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(d)
    run_once()
    spark.createDataFrame(late, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(d)
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    starts = {r["window_start"] for r in rows}
    assert all(r["n"] == 1 for r in rows) and len(starts) >= 1
    # the late row (far behind the checkpointed watermark) was dropped
    assert base - dt.timedelta(hours=10) not in starts


def test_sessionize_stateful_emits_closed_sessions(spark, tmp_path):
    """Custom stateful sessionizer: sessions close in-batch when a
    same-user event arrives past the gap, and by event-time timeout
    once the watermark passes last_event + gap. Only closed sessions
    are emitted (append mode)."""
    import datetime as dt

    d = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def run_once():
        stream = st.stream_from_files(spark, d, EVENTS_SCHEMA)
        sessions = st.sessionize_stateful(
            stream.withWatermark("ts", "10 seconds"), gap_seconds=1800)
        q = (sessions.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    b1 = [(1, base, 1, "click", 1.0),
          (2, base + dt.timedelta(minutes=5), 1, "click", 1.0),
          (3, base, 2, "click", 1.0)]
    spark.createDataFrame(b1, EVENTS_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(d)
    run_once()
    # u1's 12:00 event closes the 10:00-10:05 session in-batch; u99
    # pushes the watermark far ahead so u1/u2 states time out next run
    b2 = [(4, base + dt.timedelta(hours=2), 1, "click", 1.0),
          (5, base + dt.timedelta(hours=13), 99, "click", 1.0)]
    spark.createDataFrame(b2, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(d)
    run_once()
    b3 = [(6, base + dt.timedelta(hours=13, minutes=30), 98, "click", 1.0)]
    spark.createDataFrame(b3, EVENTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(d)
    run_once()

    rows = [r for r in spark.read.parquet(out_dir).collect()
            if r["user_id"] in (1, 2)]
    got = sorted((r["user_id"], r["session_start"], r["session_end"],
                  r["n_events"]) for r in rows)
    assert got == [
        (1, base, base + dt.timedelta(minutes=5), 2),
        (1, base + dt.timedelta(hours=2), base + dt.timedelta(hours=2), 1),
        (2, base, base, 1),
    ]


def test_stream_into_collection_upserts(spark, tmp_path):
    from db_spark.engine import Storage

    d = str(tmp_path / "in")
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("v", T.LongType()),
    ])
    spark.createDataFrame([("a", 1), ("b", 1)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    storage = Storage(spark, str(tmp_path / "db"))
    c = storage.get_collection("ingested")

    def run():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_into_collection(stream, c, str(tmp_path / "ckpt"))

    run()
    assert {(r["_id"], r["v"]) for r in c.table_scan().collect()} == {("a", 1), ("b", 1)}
    # second batch updates 'a' and inserts 'c'; MVCC newest-version wins
    spark.createDataFrame([("a", 2), ("c", 1)], schema).coalesce(1) \
        .write.mode("append").parquet(d)
    run()
    assert {(r["_id"], r["v"]) for r in c.table_scan().collect()} == \
        {("a", 2), ("b", 1), ("c", 1)}


def test_stream_feeds_incremental_matview(spark, tmp_path):
    """The full serving path at 100 TB: stream -> MVCC log (foreachBatch
    upserts) -> O(delta) incremental view refresh. After each drained
    micro-batch + refresh, the maintained state must equal a
    from-scratch aggregate over the current snapshot — including an
    update that moves a row between groups, and a compaction between
    refreshes (watermark-triggered full rebuild)."""
    from db_spark.engine import Storage, StorageConfig
    from db_spark.matview import IncrementalAggView

    d = str(tmp_path / "in")
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("grp", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ])
    storage = Storage(spark, str(tmp_path / "db"),
                      StorageConfig(max_entries=64))
    c = storage.get_collection("metrics")
    view = IncrementalAggView(c, "grp", "val", str(tmp_path / "view"))

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_into_collection(stream, c, str(tmp_path / "ckpt"))

    def assert_view_matches_snapshot():
        view.refresh()
        direct = {
            r["grp"]: (r["n"], r["s"])
            for r in c.table_scan().groupBy("grp").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                (F.sum(F.round(F.col("val") * 100).cast("long")) / 100.0)
                .alias("s")).collect()
        }
        got = {r["grp"]: (r["n_rows"], r["sum_value"])
               for r in view.read().collect()}
        assert got == direct

    spark.createDataFrame(
        [("a", "g1", 10.0), ("b", "g1", 5.0), ("c", "g2", 1.0)],
        schema).coalesce(1).write.mode("overwrite").parquet(d)
    drain()
    assert_view_matches_snapshot()

    # batch 2: value update, group move, new id
    spark.createDataFrame(
        [("a", "g1", 20.0), ("c", "g1", 1.0), ("d", "g2", 7.0)],
        schema).coalesce(1).write.mode("append").parquet(d)
    drain()
    assert_view_matches_snapshot()

    # compaction destroys the log prefix; the next refresh must detect
    # the watermark and rebuild rather than double-count
    c.compact()
    spark.createDataFrame(
        [("e", "g2", 3.0)], schema).coalesce(1).write.mode("append").parquet(d)
    drain()
    assert_view_matches_snapshot()


def test_stream_sketch_kmv_equals_batch_sketch(spark, tmp_path):
    """Streamed micro-batch maintenance must land on EXACTLY the sketch
    (hash set and estimate) a one-shot batch build produces over the
    same rows — the merge law, exercised through the foreachBatch
    state path with three file batches."""
    from db_spark.sketch import kmv_estimate, kmv_sketch

    d = str(tmp_path / "in")
    schema = T.StructType([T.StructField("uid", T.StringType())])
    batches = [
        [(f"u{i}",) for i in range(0, 300)],
        [(f"u{i}",) for i in range(150, 450)],   # overlap: replays merge
        [(f"u{i}",) for i in range(400, 600)],
    ]
    all_rows = sorted({r for b in batches for r in b})
    spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
        "overwrite").parquet(d)
    state = str(tmp_path / "state")

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_sketch_kmv(stream, "uid", state, str(tmp_path / "ckpt"),
                             k=64)

    drain()
    for b in batches[1:]:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append").parquet(d)
        drain()

    maintained = st.read_sketch_state(spark, state)
    oneshot = kmv_sketch(
        spark.createDataFrame(all_rows, schema), F.col("uid"), k=64)
    assert sorted(r["_h"] for r in maintained.collect()) == \
        sorted(r["_h"] for r in oneshot.collect())
    est_m = kmv_estimate(maintained, k=64).collect()[0]
    est_o = kmv_estimate(oneshot, k=64).collect()[0]
    assert est_m == est_o


def test_hypertable_rollup_matches_full_scan(spark, tmp_path):
    import datetime as dt

    from db_spark.streaming import rollup as ru

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=37 * i), i % 3,
             ["a", "b"][i % 2], float(i % 50)) for i in range(500)]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    path = str(tmp_path / "rollup")
    cutoff = base + dt.timedelta(days=8)

    # materialize history (< cutoff), keep the tail raw
    ru.rollup_materialize(df.filter(F.col("ts") < F.lit(cutoff)), path,
                          "ts", "1 hour", "value", ["event_type"])
    got = ru.hypertable_agg(spark, path, df, "ts", "1 hour", "value",
                            ["event_type"], high_water=cutoff)

    direct = (df.groupBy(F.window("ts", "1 hour").start.alias("bucket_start"),
                         "event_type")
              .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"),
                   F.min("value").alias("vmin"), F.max("value").alias("vmax"))
              .withColumn("vavg", F.col("total") / F.col("n")))
    key = lambda r: (r["bucket_start"], r["event_type"])
    g = {key(r): (r["n"], r["total"], r["vmin"], r["vmax"], r["vavg"])
         for r in got.collect()}
    e = {key(r): (r["n"], r["total"], r["vmin"], r["vmax"], r["vavg"])
         for r in direct.collect()}
    assert g == e


def test_hypertable_incremental_refresh(spark, tmp_path):
    import datetime as dt

    from db_spark.streaming import rollup as ru

    base = dt.datetime(2024, 1, 1)
    mk = lambda n: [(i, base + dt.timedelta(hours=6 * i), 1, "a", float(i))
                    for i in range(n)]
    path = str(tmp_path / "rollup")
    ru.rollup_materialize(spark.createDataFrame(mk(8), EVENTS_SCHEMA), path,
                          "ts", "1 day", "value")
    # late/new data lands on day 2+; refresh only those partitions
    df2 = spark.createDataFrame(mk(16), EVENTS_SCHEMA)
    ru.rollup_refresh(spark, df2, path, "ts", "1 day", "value",
                      since=base + dt.timedelta(days=1))
    got = ru.hypertable_agg(spark, path, None, "ts", "1 day", "value")
    direct = (df2.groupBy(F.window("ts", "1 day").start.alias("bucket_start"))
              .agg(F.count(F.lit(1)).alias("n")))
    g = {r["bucket_start"]: r["n"] for r in got.collect()}
    e = {r["bucket_start"]: r["n"] for r in direct.collect()}
    assert g == e


def test_hypertable_refresh_mid_bucket_since(spark, tmp_path):
    """A `since` mid-bucket AND mid-day must recompute the straddling
    bucket (and its whole date partition) in full — not drop it, not
    rebuild it from a partial row set."""
    import datetime as dt

    from db_spark.streaming import rollup as ru

    base = dt.datetime(2024, 1, 1)
    mk = lambda n: [(i, base + dt.timedelta(minutes=37 * i), 1, "a", float(i))
                    for i in range(n)]
    path = str(tmp_path / "rollup")
    ru.rollup_materialize(spark.createDataFrame(mk(40), EVENTS_SCHEMA), path,
                          "ts", "1 hour", "value")
    # new data extends the series; refresh from an instant that is inside
    # an hour bucket and inside a day partition
    df2 = spark.createDataFrame(mk(80), EVENTS_SCHEMA)
    since = base + dt.timedelta(hours=13, minutes=25)
    ru.rollup_refresh(spark, df2, path, "ts", "1 hour", "value", since=since)
    got = ru.hypertable_agg(spark, path, None, "ts", "1 hour", "value")
    direct = (df2.groupBy(F.window("ts", "1 hour").start.alias("bucket_start"))
              .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")))
    g = {r["bucket_start"]: (r["n"], r["total"]) for r in got.collect()}
    e = {r["bucket_start"]: (r["n"], r["total"]) for r in direct.collect()}
    assert g == e


IMP_SCHEMA = T.StructType([
    T.StructField("imp_id", T.LongType()),
    T.StructField("imp_ts", T.TimestampType()),
    T.StructField("imp_user", T.LongType()),
])

CLK_SCHEMA = T.StructType([
    T.StructField("clk_id", T.LongType()),
    T.StructField("clk_ts", T.TimestampType()),
    T.StructField("clk_user", T.LongType()),
])


def test_stream_stream_join_matches_batch(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    imps = [(i, base + dt.timedelta(minutes=10 * i), i % 4) for i in range(40)]
    # clicks 0..25 min after some impression, same user for i % 2 == 0
    clks = [(i, base + dt.timedelta(minutes=10 * i + 5 * (i % 6)),
             (i % 4) if i % 2 == 0 else (i + 1) % 4) for i in range(40)]
    d_imp, d_clk = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(imps, IMP_SCHEMA).coalesce(2).write.parquet(d_imp)
    spark.createDataFrame(clks, CLK_SCHEMA).coalesce(2).write.parquet(d_clk)

    cond = (
        (F.col("imp_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("imp_ts"))
        & (F.col("clk_ts") <= F.col("imp_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = st.stream_stream_join(
        st.stream_from_files(spark, d_imp, IMP_SCHEMA),
        st.stream_from_files(spark, d_clk, CLK_SCHEMA),
        cond, "imp_ts", "1 hour", "clk_ts", "1 hour",
    )
    assert joined.isStreaming
    st.run_stream_to_memory(joined, "ss_join")
    got = {(r["imp_id"], r["clk_id"])
           for r in spark.sql("SELECT * FROM ss_join").collect()}

    batch = spark.createDataFrame(imps, IMP_SCHEMA).join(
        spark.createDataFrame(clks, CLK_SCHEMA), cond)
    expected = {(r["imp_id"], r["clk_id"]) for r in batch.collect()}
    assert got == expected
    assert len(expected) > 20


def test_streaming_dedup_within_watermark(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        rows.append((i, base + dt.timedelta(minutes=i), i % 4, "click", float(i)))
        if i % 3 == 0:  # duplicate key arrives shortly after the original
            rows.append((i, base + dt.timedelta(minutes=i, seconds=30),
                         i % 4, "click", float(i)))
    d = str(tmp_path / "dup_events")
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(2).write.parquet(d)

    dedup = st.streaming_dedup(
        st.stream_from_files(spark, d, EVENTS_SCHEMA),
        keys=["event_id"], ts_col="ts", watermark="2 hours",
    )
    assert dedup.isStreaming
    st.run_stream_to_memory(dedup, "dedup_stream")
    got = spark.sql("SELECT event_id FROM dedup_stream").collect()
    ids = [r["event_id"] for r in got]
    assert sorted(ids) == sorted(set(ids)) == list(range(30))


def test_stream_sketch_hll_equals_batch_sketch(spark, tmp_path):
    """Streamed HLL maintenance must land on EXACTLY the register table
    and estimate a one-shot batch build produces — register-wise MAX
    through the foreachBatch state path, overlapping batches included."""
    from db_spark.sketch import hll_estimate, hll_sketch

    d = str(tmp_path / "in")
    schema = T.StructType([T.StructField("uid", T.StringType())])
    batches = [
        [(f"u{i}",) for i in range(0, 300)],
        [(f"u{i}",) for i in range(150, 450)],   # overlap: MAX is a no-op
        [(f"u{i}",) for i in range(400, 600)],
    ]
    all_rows = sorted({r for b in batches for r in b})
    spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
        "overwrite").parquet(d)
    state = str(tmp_path / "state")

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_sketch_hll(stream, "uid", state, str(tmp_path / "ckpt"),
                             p=8)

    drain()
    for b in batches[1:]:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append").parquet(d)
        drain()

    maintained = st.read_sketch_state(spark, state)
    oneshot = hll_sketch(
        spark.createDataFrame(all_rows, schema), F.col("uid"), p=8)
    assert sorted(map(tuple, maintained.collect())) == \
        sorted(map(tuple, oneshot.collect()))
    assert hll_estimate(maintained, p=8).collect() == \
        hll_estimate(oneshot, p=8).collect()


def test_stream_feeds_incremental_join_view(spark, tmp_path):
    """Streaming fact ingestion under a JOIN view: facts stream into an
    MVCC collection via foreachBatch upserts while the dim side takes
    batch updates; after each drained micro-batch the bilinear-delta
    refresh must equal a from-scratch aggregate over the joined
    snapshots."""
    from db_spark.engine import Storage, StorageConfig
    from db_spark.matview import IncrementalJoinAggView

    d = str(tmp_path / "in")
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("fk", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ])
    storage = Storage(spark, str(tmp_path / "db"),
                      StorageConfig(max_entries=64))
    dim = storage.get_collection("dim")
    fact = storage.get_collection("fact")
    dim.set_objects(None, spark.createDataFrame(
        [("d1", 1, "x"), ("d2", 2, "y")],
        "_id string, k long, grp string"))
    view = IncrementalJoinAggView(
        dim, fact, "k", "fk", "grp", "val", str(tmp_path / "jview"))

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_into_collection(stream, fact, str(tmp_path / "ckpt"))

    def assert_view_matches_snapshot():
        view.refresh()
        direct = {
            r["grp"]: (r["n"], r["s"])
            for r in dim.table_scan().select("k", "grp")
            .join(fact.table_scan().select("fk", "val"),
                  F.col("k") == F.col("fk"))
            .groupBy("grp").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                (F.sum(F.round(F.col("val") * 100).cast("long")) / 100.0)
                .alias("s")).collect()
        }
        got = {r["grp"]: (r["n_rows"], r["sum_value"])
               for r in view.read().collect()}
        assert got == direct

    spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 2.5), ("c", 2, 4.0), ("d", 9, 99.0)],
        schema).coalesce(1).write.mode("overwrite").parquet(d)
    drain()
    assert_view_matches_snapshot()

    # batch 2 streams in: value update, key move, new id; dim-side batch
    # update regroups key 2 — both deltas in one refresh
    spark.createDataFrame(
        [("a", 2, 11.0), ("e", 1, 1.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)
    from db_spark.table import uuid7
    tx = uuid7()
    dim.set_objects(tx, spark.createDataFrame(
        [("d2", 2, "moved")], "_id string, k long, grp string"))
    dim.commit(tx)
    drain()
    assert_view_matches_snapshot()


def test_stream_sketch_hist_equals_batch_sketch(spark, tmp_path):
    """Streamed histogram maintenance (counter sketch: replay safety by
    batch-id watermark, not merge idempotency) must land on exactly the
    one-shot batch histogram, and an empty re-drain must not change
    state."""
    from db_spark.sketch import hist_sketch

    d = str(tmp_path / "in")
    schema = T.StructType([T.StructField("v", T.DoubleType())])
    batches = [
        [(float(i % 40),) for i in range(300)],
        [(float(i % 25),) for i in range(200)],
        [(-5.0,), (999.0,)],  # clamps into edge buckets
    ]
    spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
        "overwrite").parquet(d)
    state = str(tmp_path / "state")

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_sketch_hist(stream, "v", state, str(tmp_path / "ckpt"),
                              lo=0.0, hi=40.0, buckets=16)

    drain()
    for b in batches[1:]:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append").parquet(d)
        drain()
    drain()  # no new files: empty drain must be a no-op

    maintained = sorted(
        map(tuple, st.read_sketch_state(spark, state).collect()))
    all_rows = [r for b in batches for r in b]
    oneshot = sorted(map(tuple, hist_sketch(
        spark.createDataFrame(all_rows, schema), F.col("v"),
        0.0, 40.0, 16).collect()))
    assert maintained == oneshot
    total = sum(c for _, c in maintained)
    assert total == 502  # every streamed row counted exactly once


def test_stream_sketch_cm_equals_batch_sketch(spark, tmp_path):
    from db_spark.sketch import cm_estimate, cm_sketch

    d = str(tmp_path / "in")
    schema = T.StructType([T.StructField("tok", T.StringType())])
    batches = [
        [(f"t{i % 7}",) for i in range(140)],
        [("t0",)] * 60,
    ]
    spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
        "overwrite").parquet(d)
    state = str(tmp_path / "state")

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_sketch_cm(stream, "tok", state, str(tmp_path / "ckpt"),
                            depth=3, width=64)

    drain()
    spark.createDataFrame(batches[1], schema).coalesce(1).write.mode(
        "append").parquet(d)
    drain()

    maintained = sorted(
        map(tuple, st.read_sketch_state(spark, state).collect()))
    all_rows = [r for b in batches for r in b]
    oneshot = sorted(map(tuple, cm_sketch(
        spark.createDataFrame(all_rows, schema), F.col("tok"),
        depth=3, width=64).collect()))
    assert maintained == oneshot
    # frequency estimate over the maintained state: t0 = 20 + 60
    probe = spark.createDataFrame([("t0",)], schema)
    est = cm_estimate(st.read_sketch_state(spark, state),
                      probe.select(F.col("tok").alias("value")),
                      "value", depth=3, width=64).collect()[0]
    assert est["est_count"] >= 80  # one-sided error


def test_streaming_hist_feeds_psi_monitor(spark, tmp_path):
    """The monitoring loop end-to-end: a live histogram maintained by
    stream_sketch_hist compares against a persisted reference via
    psi_from_hists — no rescan of either dataset. Shifted live data
    must score high PSI; matching data near zero."""
    from db_spark.analytics import psi_from_hists, psi_drift
    from db_spark.sketch import hist_sketch

    ref_rows = [(float(i % 20),) for i in range(400)]
    live_rows = [(20.0 + float(i % 20),) for i in range(300)]  # shifted
    schema = T.StructType([T.StructField("v", T.DoubleType())])
    ref_hist = hist_sketch(spark.createDataFrame(ref_rows, schema),
                           F.col("v"), 0.0, 40.0, 16)

    d = str(tmp_path / "in")
    spark.createDataFrame(live_rows, schema).coalesce(1).write.mode(
        "overwrite").parquet(d)
    state = str(tmp_path / "state")
    stream = st.stream_from_files(spark, d, schema)
    st.stream_sketch_hist(stream, "v", state, str(tmp_path / "ckpt"),
                          lo=0.0, hi=40.0, buckets=16)

    live_hist = st.read_sketch_state(spark, state)
    row = psi_from_hists(ref_hist, live_hist, buckets=16).collect()[0]
    assert row["psi"] > 0.25 and row["n_cur"] == 300

    # wrapper equivalence: psi_drift over raw rows == psi over sketches
    direct = psi_drift(
        spark.createDataFrame(ref_rows, schema),
        spark.createDataFrame(live_rows, schema),
        F.col("v"), lo=0.0, hi=40.0, buckets=16).collect()[0]
    assert (row["psi"], row["n_ref"], row["n_cur"]) == \
        (direct["psi"], direct["n_ref"], direct["n_cur"])


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: impressions with no click inside
    the time bound must STILL be emitted (with NULL click columns) once
    the watermark passes their join horizon — the state-eviction path
    an inner join never exercises."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # impressions every 10 min; clicks only for even imp ids, 5 min later
    imps = [(i, base + dt.timedelta(minutes=10 * i), i) for i in range(20)]
    clks = [(i, base + dt.timedelta(minutes=10 * i + 5), i)
            for i in range(0, 20, 2)]
    # a far-future click pushes both watermarks past every horizon so
    # unmatched left rows are finalized and emitted
    clks.append((999, base + dt.timedelta(days=2), 999))
    d_imp, d_clk = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(imps, IMP_SCHEMA).coalesce(1).write.parquet(d_imp)
    spark.createDataFrame(clks, CLK_SCHEMA).coalesce(1).write.parquet(d_clk)

    cond = (
        (F.col("imp_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("imp_ts"))
        & (F.col("clk_ts") <= F.col("imp_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    joined = st.stream_stream_join(
        st.stream_from_files(spark, d_imp, IMP_SCHEMA),
        st.stream_from_files(spark, d_clk, CLK_SCHEMA),
        cond, "imp_ts", "10 minutes", "clk_ts", "10 minutes",
        how="left_outer",
    )
    st.run_stream_to_memory(joined, "ss_left")
    rows = spark.sql("SELECT imp_id, clk_id FROM ss_left").collect()
    matched = {r["imp_id"] for r in rows if r["clk_id"] is not None}
    unmatched = {r["imp_id"] for r in rows if r["clk_id"] is None}
    assert matched == set(range(0, 20, 2))
    # every odd impression whose horizon the watermark passed is
    # emitted with NULLs; at minimum the early ones must be there
    assert unmatched and unmatched <= set(range(1, 20, 2))


def test_counter_sink_skips_replayed_batch_id(spark, tmp_path):
    """Checkpoint recovery re-delivers the last uncommitted batch with
    the SAME batch_id; the sketch sink's batch-id watermark must make
    that a no-op instead of double-counting — for the additive
    histogram and for KMV alike, which share the sink. Each write reaps
    every epoch older than the one it keeps, crash stragglers included.
    Driven by invoking the inner sink directly — a live stream cannot
    force a replay."""
    from db_spark.sketch import hist_sketch, kmv_sketch

    state = str(tmp_path / "state")
    captured = {}

    class _FakeStream:
        # capture the foreachBatch callback instead of starting a query
        def __init__(self, df):
            self._df = df

        @property
        def writeStream(self):
            outer = self

            class _W:
                def foreachBatch(self, fn):
                    captured["fn"] = fn
                    return self

                def option(self, *a):
                    return self

                def trigger(self, **k):
                    return self

                def start(self):
                    class _Q:
                        def awaitTermination(self):
                            return None
                    return _Q()
            return _W()

    df = spark.createDataFrame([(float(i % 5),) for i in range(50)],
                               "v double")
    st.stream_sketch_hist(_FakeStream(df), "v", state,
                          str(tmp_path / "ckpt"), 0.0, 5.0, 8)
    sink = captured["fn"]

    sink(df, 0)
    once = sorted(map(tuple, st.read_sketch_state(spark, state).collect()))
    sink(df, 0)  # replayed batch id: must be skipped
    replayed = sorted(map(tuple,
                          st.read_sketch_state(spark, state).collect()))
    assert replayed == once
    sink(df, 1)  # genuinely new batch id: counts double up
    doubled = {b: c for b, c in map(tuple, st.read_sketch_state(
        spark, state).collect())}
    assert doubled == {b: 2 * c for b, c in once}

    # KMV: a replayed id is skipped even when its rows differ, a new id
    # merges; the state stays the one-shot sketch of the merged batches
    kstate = str(tmp_path / "kmv")
    st.stream_sketch_kmv(_FakeStream(df), "v", kstate,
                         str(tmp_path / "kckpt"), k=64)
    sink = captured["fn"]
    more = spark.createDataFrame([(float(i),) for i in range(5, 9)],
                                 "v double")

    def kmv_hashes(*frames):
        rows = [r for f in frames for r in f.collect()]
        return sorted(r["_h"] for r in kmv_sketch(
            spark.createDataFrame(rows, "v double"), F.col("v"),
            k=64).collect())

    def state_hashes():
        return sorted(r["_h"] for r in
                      st.read_sketch_state(spark, kstate).collect())

    sink(df, 0)
    sink(more, 0)  # replayed batch id: skipped, not merged
    assert state_hashes() == kmv_hashes(df)
    sink(more, 1)
    assert state_hashes() == kmv_hashes(df, more)
    sink(more, 2)
    # a straggler epoch (a crash between pointer swap and reap) is
    # reaped by the next write along with the regular epoch-(new-2)
    os.makedirs(os.path.join(kstate, "epoch-0"))
    sink(more, 3)
    assert sorted(d for d in os.listdir(kstate)
                  if d.startswith("epoch-")) == ["epoch-2", "epoch-3"]
    assert state_hashes() == kmv_hashes(df, more)


def test_stream_changes_cdc_source(spark, tmp_path):
    """The MVCC log as a streaming CDC source: readStream over the
    append-only segments yields each new U/D entry exactly once across
    checkpointed drains; nil-txid default excludes uncommitted
    transactional writes."""
    from db_spark.engine import Storage, StorageConfig
    from db_spark.table import uuid7

    st_ = Storage(spark, str(tmp_path / "db"), StorageConfig(max_entries=64))
    c = st_.get_collection("t")
    c.set_objects(None, spark.createDataFrame(
        [("a", 1), ("b", 2)], "_id string, v long"))
    out_dir = str(tmp_path / "out")

    def drain():
        stream = st.stream_changes(c)
        q = (stream.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    got1 = [(r["_id"], r["_kind"], r["v"])
            for r in spark.read.parquet(out_dir).collect()]
    assert sorted(got1) == [("a", "U", 1), ("b", "U", 2)]

    # batch 2: an auto-visible delete + an UNCOMMITTED transactional
    # write - only the delete must stream with the default filter, and
    # the checkpoint must not re-emit batch 1
    c.delete_objects(None, ["a"])
    tx = uuid7()
    c.set_objects(tx, spark.createDataFrame(
        [("z", 9)], "_id string, v long"))
    drain()
    rows = [(r["_id"], r["_kind"]) for r in
            spark.read.parquet(out_dir).collect()]
    assert sorted(rows) == [("a", "D"), ("a", "U"), ("b", "U")]

    # include_uncommitted surfaces the transactional entry with its txid
    stream = st.stream_changes(c, include_uncommitted=True)
    q = (stream.writeStream.format("memory").queryName("cdc_all")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    allrows = {(r["_id"], r["_kind"]) for r in
               spark.sql("SELECT * FROM cdc_all").collect()}
    assert ("z", "U") in allrows


def test_stream_sketch_hist_grouped(spark, tmp_path):
    """Grouped histogram maintenance: per-group state stays bounded and
    equals the one-shot grouped sketch."""
    from db_spark.sketch import hist_sketch

    d = str(tmp_path / "in")
    schema = T.StructType([T.StructField("g", T.StringType()),
                           T.StructField("v", T.DoubleType())])
    batches = [
        [("a", float(i % 10)) for i in range(100)],
        [("b", float(i % 4)) for i in range(60)] + [("a", 3.0)] * 5,
    ]
    spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
        "overwrite").parquet(d)
    state = str(tmp_path / "state")

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_sketch_hist(stream, "v", state, str(tmp_path / "ckpt"),
                              lo=0.0, hi=10.0, buckets=8,
                              group_cols=["g"])

    drain()
    spark.createDataFrame(batches[1], schema).coalesce(1).write.mode(
        "append").parquet(d)
    drain()

    maintained = sorted(
        map(tuple, st.read_sketch_state(spark, state).collect()))
    all_rows = [r for b in batches for r in b]
    oneshot = sorted(map(tuple, hist_sketch(
        spark.createDataFrame(all_rows, schema), F.col("v"),
        0.0, 10.0, 8, group_cols=["g"]).collect()))
    assert maintained == oneshot
    assert len(maintained) <= 2 * 8  # bounded per group


def test_stream_dq_reports_per_batch(spark, tmp_path):
    """Continuous dq monitoring: each micro-batch gets its own report
    rows with a batch_id; a clean batch passes, a dirty one records
    violation counts; drains without new data append nothing."""
    from db_spark import quality as dq

    d = str(tmp_path / "in")
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    out = str(tmp_path / "dq")
    rules = [dq.not_null("k_nn", "k"), dq.in_range("v_rng", "v", 0.0, 10.0)]

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_dq_reports(stream, rules, out, str(tmp_path / "ckpt"))

    spark.createDataFrame([(1, 5.0), (2, 7.0)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    drain()
    spark.createDataFrame([(None, 99.0), (3, 2.0)], schema).coalesce(1) \
        .write.mode("append").parquet(d)
    drain()
    drain()  # empty drain: no extra rows

    log = spark.read.parquet(out + "/log")
    rows = {(r["batch_id"], r["rule"]): (r["violations"], r["passed"])
            for r in log.collect()}
    assert len(rows) == 4  # 2 rules x 2 batches
    batches = sorted({b for b, _ in rows})
    clean, dirty = batches
    assert rows[(clean, "k_nn")] == (0, True)
    assert rows[(clean, "v_rng")] == (0, True)
    assert rows[(dirty, "k_nn")] == (1, False)   # the NULL key
    assert rows[(dirty, "v_rng")] == (1, False)  # 99.0 out of range


def test_streaming_curation_gates_are_stream_safe(spark, tmp_path):
    """The map-only curation stages (normalize_text + ppm quality gate)
    run unchanged inside Structured Streaming — same Column
    expressions, batch/stream unification — and land in an MVCC
    collection via the exactly-once sink."""
    from db_spark.engine import Storage
    from db_spark.llm import text as ltext
    from pyspark.sql import types as T

    d = str(tmp_path / "in")
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    good = ("the quick brown fox jumps over the lazy dog and it is a "
            "fine day for the races in the town")
    spark.createDataFrame(
        [("1", "“" + good + "”"),   # curly quotes: normalized
         ("2", "x!! y??")],                   # fails the quality gate
        schema).coalesce(1).write.mode("overwrite").parquet(d)
    storage = Storage(spark, str(tmp_path / "db"))
    c = storage.get_collection("curated")

    stream = st.stream_from_files(spark, d, schema)
    gated = (
        stream.withColumn("text", ltext.normalize_text(F.col("text")))
        .withColumn("quality_ppm", F.round(F.least(
            F.lit(1.0), F.greatest(F.lit(0.0), ltext.quality_score(
                F.col("text")))) * 1_000_000).cast("long"))
        .filter(F.col("quality_ppm") >= 500_000)
    )
    st.stream_into_collection(gated, c, str(tmp_path / "ckpt"))
    rows = {r["_id"]: r for r in c.table_scan().collect()}
    assert set(rows) == {"1"}
    assert rows["1"]["text"] == '"' + good + '"'   # quotes normalized
    assert rows["1"]["quality_ppm"] >= 500_000


def test_stateful_cusum_carries_state_across_batches(spark, tmp_path):
    """Streaming CUSUM: scaled-integer state survives micro-batches
    (and restarts via the checkpoint); within-batch alarms fire even
    when the statistic later resets."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    d = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = st.stream_from_files(spark, d, EVENTS_SCHEMA)
        mon = st.cusum_alerts_stateful(stream, target=50.0, threshold=100.0)
        # file sinks are append-only: drain update-mode batches via
        # foreachBatch (the standard update->file bridge)
        q = (mon.writeStream.outputMode("update")
             .foreachBatch(
                 lambda df, _bid: df.write.mode("append").parquet(out_dir))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    batch1 = [(i, base + dt.timedelta(minutes=i), 1, "m", v)
              for i, v in enumerate([10.0, 10.0, 200.0])]
    spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    run_once()
    batch2 = [(10, base + dt.timedelta(hours=1), 1, "m", 300.0)]
    spark.createDataFrame(batch2, EVENTS_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    run_once()

    rows = sorted(spark.read.parquet(out_dir).collect(),
                  key=lambda r: r["n_batch"], reverse=True)
    # batch 1 (3 rows): dev path peaks at 150 -> s_pos 150, alarm fired
    b1 = [r for r in rows if r["n_batch"] == 3][0]
    assert b1["s_pos"] == 150.0 and b1["alarm_pos"]
    assert b1["s_neg"] == 0.0 and not b1["alarm_neg"]
    # batch 2 (1 row): carry-in 150 + (300-50) = 400
    b2 = [r for r in rows if r["n_batch"] == 1][0]
    assert b2["s_pos"] == 400.0 and b2["alarm_pos"]


def test_stateful_cusum_is_chunk_order_safe(spark, tmp_path):
    """A group's micro-batch rows arrive as multiple Arrow chunks in
    partition order; the path must be computed on the time-sorted WHOLE
    batch, not per chunk."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    d = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # file order deliberately REVERSES event time: the spike (minute 0)
    # is written last, the recovery (minutes 1-5) first
    vals = [(i, base + dt.timedelta(minutes=m), 1, "m", v)
            for i, (m, v) in enumerate(
                [(5, 50.0), (4, 50.0), (3, 50.0), (2, 50.0), (1, 50.0),
                 (0, 500.0)])]
    spark.createDataFrame(vals, EVENTS_SCHEMA).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = st.stream_from_files(spark, d, EVENTS_SCHEMA)
        mon = st.cusum_alerts_stateful(stream, target=50.0,
                                       threshold=100.0)
        q = (mon.writeStream.outputMode("update")
             .foreachBatch(
                 lambda df, _b: df.write.mode("append").parquet(out_dir))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    r = spark.read.parquet(out_dir).collect()[0]
    # time-sorted series: 500 then five 50s -> peak s_pos 450 at t=0,
    # decays by 0 afterwards (dev 0 each) -> stays 450; chunk-local
    # sorting would have started at the 50s and produced a lower path
    assert r["n_batch"] == 6
    assert r["s_pos"] == 450.0 and r["alarm_pos"]
