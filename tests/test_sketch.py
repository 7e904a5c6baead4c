"""Count-min sketch + incremental materialized aggregate views."""

import pytest
from pyspark.sql import functions as F

from db_spark import sketch as sk


@pytest.fixture(scope="module")
def stream(spark):
    # zipf-ish: value i appears (20 - i) times, i in 0..19
    rows = [(i,) for i in range(20) for _ in range(20 - i)]
    return spark.createDataFrame(rows, "v int")


def test_cm_sketch_never_undercounts(stream):
    est = {r["value"]: r["est_count"] for r in sk.cm_heavy_hitters(
        stream, F.col("v"), min_count=1, depth=4, width=256).collect()}
    for i in range(20):
        assert est[str(i)] >= 20 - i  # one-sided error


def test_cm_sketch_exact_when_wide(stream):
    # width >> distinct values: no collisions, estimates exact
    est = {r["value"]: r["est_count"] for r in sk.cm_heavy_hitters(
        stream, F.col("v"), min_count=1, depth=4, width=4096).collect()}
    assert est == {str(i): 20 - i for i in range(20)}


def test_cm_heavy_hitters_superset(stream):
    hh = {r["value"] for r in sk.cm_heavy_hitters(
        stream, F.col("v"), min_count=15, depth=4, width=2048).collect()}
    true_hh = {str(i) for i in range(20) if 20 - i >= 15}
    assert true_hh <= hh  # no false negatives, ever


def test_cm_merge_equals_union_sketch(spark):
    a = spark.range(0, 300).select((F.col("id") % 17).alias("v"))
    b = spark.range(0, 500).select((F.col("id") % 23).alias("v"))
    sa = sk.cm_sketch(a, F.col("v"), depth=3, width=64)
    sb = sk.cm_sketch(b, F.col("v"), depth=3, width=64)
    merged = sk.cm_merge(sa, sb)
    direct = sk.cm_sketch(a.unionByName(b), F.col("v"), depth=3, width=64)
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want


def test_cm_sketch_bounded_and_null_safe(spark):
    df = spark.createDataFrame(
        [(None,)] + [(str(i),) for i in range(1000)], "v string")
    cells = sk.cm_sketch(df, F.col("v"), depth=4, width=64)
    assert cells.count() <= 4 * 64  # state bounded by depth*width
    total = cells.groupBy("_d").agg(F.sum("_cnt").alias("n")).collect()
    assert all(r["n"] == 1000 for r in total)  # null contributed nothing


def test_cm_grouped(spark):
    df = spark.createDataFrame(
        [("a", i % 5) for i in range(50)] + [("b", 7)] * 9,
        "g string, v int")
    est = {(r["g"], r["value"]): r["est_count"] for r in sk.cm_heavy_hitters(
        df, F.col("v"), min_count=1, depth=4, width=1024,
        group_cols=["g"]).collect()}
    assert est[("a", "0")] >= 10 and est[("b", "7")] >= 9
    assert ("b", "0") not in est  # groups don't bleed


# ---------------------------------------------------------------------------
# Incremental materialized aggregate view
# ---------------------------------------------------------------------------

@pytest.fixture()
def mv_setup(spark, tmp_path):
    from db_spark.engine import Storage, StorageConfig
    from db_spark.matview import IncrementalAggView

    st = Storage(spark, str(tmp_path / "store"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    view = IncrementalAggView(c, "grp", "val", str(tmp_path / "view"))
    return c, view


def _rows(spark, rows):
    return spark.createDataFrame(rows, "_id string, grp string, val double")


def test_matview_initial_build(spark, mv_setup):
    c, view = mv_setup
    c.set_objects(None, _rows(spark, [
        ("1", "a", 10.5), ("2", "a", 4.5), ("3", "b", 1.0)]))
    view.refresh()
    got = {r["grp"]: (r["n_rows"], r["sum_value"]) for r in view.read().collect()}
    assert got == {"a": (2, 15.0), "b": (1, 1.0)}


def test_matview_incremental_matches_direct(spark, mv_setup):
    from db_spark.table import uuid7

    c, view = mv_setup
    c.set_objects(None, _rows(spark, [
        (str(i), "g" + str(i % 3), float(i)) for i in range(30)]))
    view.refresh()
    # upsert some, delete some, insert new — then incremental refresh
    tx = uuid7()
    c.set_objects(tx, _rows(spark, [
        (str(i), "g" + str(i % 3), float(i) + 100.25) for i in range(0, 30, 5)]))
    c.commit(tx)
    txd = uuid7()
    c.delete_where(txd, F.col("val") < 4.0)
    c.commit(txd)
    txi = uuid7()
    c.set_objects(txi, _rows(spark, [("100", "g9", 7.75)]))
    c.commit(txi)
    view.refresh()
    got = {r["grp"]: (r["n_rows"], r["sum_value"], r["avg_value"])
           for r in view.read().collect()}
    direct = {r["grp"]: (r["n"], r["s"], r["a"]) for r in (
        c.table_scan().groupBy(F.col("grp"))
        .agg(F.count("val").alias("n"),
             (F.sum(F.round(F.col("val") * 100).cast("long"))
              .cast("double") / 100.0).alias("s"))
        .withColumn("a", F.round(F.col("s") / F.col("n"), 6))
        .collect())}
    assert got == direct  # incremental state identical to direct aggregate


def test_matview_group_vanishes_on_full_delete(spark, mv_setup):
    from db_spark.table import uuid7

    c, view = mv_setup
    c.set_objects(None, _rows(spark, [
        ("1", "a", 1.0), ("2", "b", 2.0)]))
    view.refresh()
    tx = uuid7()
    c.delete_where(tx, F.col("grp") == "b")
    c.commit(tx)
    view.refresh()
    got = {r["grp"] for r in view.read().collect()}
    assert got == {"a"}


def test_matview_refresh_is_noop_without_changes(spark, mv_setup):
    c, view = mv_setup
    c.set_objects(None, _rows(spark, [("1", "a", 1.5)]))
    view.refresh()
    before = sorted(map(tuple, view.read().collect()))
    view.refresh()
    assert sorted(map(tuple, view.read().collect())) == before


def test_matview_read_before_refresh_raises(mv_setup):
    _, view = mv_setup
    with pytest.raises(RuntimeError, match="no state"):
        view.read()


# ---------------------------------------------------------------------------
# Histogram quantile sketch
# ---------------------------------------------------------------------------

def test_hist_quantile_accuracy(spark):
    # uniform 0..999: quantile estimates within one bucket width
    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("v"))
    skh = sk.hist_sketch(df, F.col("v"), lo=0.0, hi=1000.0, buckets=100)
    est = {r["q"]: r["est"] for r in sk.hist_quantile(
        skh, [0.1, 0.5, 0.9], lo=0.0, hi=1000.0, buckets=100).collect()}
    assert abs(est[0.1] - 100.0) <= 10.0
    assert abs(est[0.5] - 500.0) <= 10.0
    assert abs(est[0.9] - 900.0) <= 10.0


def test_hist_merge_equals_union(spark):
    a = spark.range(0, 400).select(F.col("id").cast("double").alias("v"))
    b = spark.range(300, 900).select(F.col("id").cast("double").alias("v"))
    m = sk.hist_merge(sk.hist_sketch(a, F.col("v"), 0.0, 1000.0, 64),
                      sk.hist_sketch(b, F.col("v"), 0.0, 1000.0, 64))
    d = sk.hist_sketch(a.unionByName(b), F.col("v"), 0.0, 1000.0, 64)
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, d.collect()))


def test_hist_clamps_out_of_range(spark):
    df = spark.createDataFrame([(-5.0,), (0.5,), (99.5,), (250.0,)], "v double")
    cells = {r["_b"]: r["_cnt"] for r in sk.hist_sketch(
        df, F.col("v"), lo=0.0, hi=100.0, buckets=10).collect()}
    assert cells[0] == 2      # -5.0 clamped into bucket 0 with 0.5
    assert cells[9] == 2      # 250.0 clamped into the top bucket with 99.5


def test_hist_grouped_bounded(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("double").alias("v"))
    skh = sk.hist_sketch(df, F.col("v"), 0.0, 5000.0, buckets=32,
                         group_cols=["g"])
    assert skh.count() <= 3 * 32
    med = {r["g"]: r["est"] for r in sk.hist_quantile(
        skh, [0.5], 0.0, 5000.0, buckets=32, group_cols=["g"]).collect()}
    for g in (0, 1, 2):
        assert abs(med[g] - 2500.0) <= 5000.0 / 32 + 1


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives(spark):
    members = spark.range(0, 500).select(F.col("id").cast("string").alias("v"))
    bf = sk.bloom_sketch(members, F.col("v"), bits=1 << 14, k=4)
    got = {r["v"]: r["maybe_present"] for r in sk.bloom_contains(
        bf, members, "v", bits=1 << 14, k=4).collect()}
    assert all(got[str(i)] for i in range(500))  # every member found


def test_bloom_rejects_most_non_members(spark):
    members = spark.range(0, 500).select(F.col("id").cast("string").alias("v"))
    bf = sk.bloom_sketch(members, F.col("v"), bits=1 << 16, k=4)
    probes = spark.range(10_000, 11_000).select(
        F.col("id").cast("string").alias("v"))
    got = [r["maybe_present"] for r in sk.bloom_contains(
        bf, probes, "v", bits=1 << 16, k=4).collect()]
    # n=500, bits=65536, k=4 -> fp ~ 8e-6; 1000 probes -> ~0 positives
    assert sum(got) <= 5


def test_bloom_merge_equals_union(spark):
    a = spark.range(0, 300).select(F.col("id").cast("string").alias("v"))
    b = spark.range(200, 600).select(F.col("id").cast("string").alias("v"))
    m = sk.bloom_merge(sk.bloom_sketch(a, F.col("v")),
                       sk.bloom_sketch(b, F.col("v")))
    d = sk.bloom_sketch(a.unionByName(b), F.col("v"))
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, d.collect()))


def test_bloom_state_bounded(spark):
    df = spark.range(0, 20_000).select(F.col("id").cast("string").alias("v"))
    bf = sk.bloom_sketch(df, F.col("v"), bits=1 << 12, k=4)
    assert bf.count() <= (1 << 12) // 32  # word count, not value count


def test_matview_over_streaming_ingestion(spark, tmp_path):
    """End-to-end: files stream into an MVCC collection (foreachBatch
    upserts), and the materialized view refreshes incrementally after
    each drain — the streaming analog of a continuously-maintained
    rollup, with the state still bit-identical to a direct aggregate."""
    from pyspark.sql import types as T

    from db_spark import streaming as st
    from db_spark.engine import Storage
    from db_spark.matview import IncrementalAggView

    d = str(tmp_path / "in")
    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("grp", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ])
    spark.createDataFrame(
        [("1", "a", 10.0), ("2", "b", 5.5)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(d)
    storage = Storage(spark, str(tmp_path / "db"))
    c = storage.get_collection("ingested")
    view = IncrementalAggView(c, "grp", "val", str(tmp_path / "view"))

    def drain():
        stream = st.stream_from_files(spark, d, schema)
        st.stream_into_collection(stream, c, str(tmp_path / "ckpt"))
        view.refresh()

    drain()
    got = {r["grp"]: r["sum_value"] for r in view.read().collect()}
    assert got == {"a": 10.0, "b": 5.5}
    # next micro-batch: upsert id 1, insert id 3 — incremental refresh
    spark.createDataFrame(
        [("1", "a", 2.25), ("3", "a", 1.0)], schema).coalesce(1) \
        .write.mode("append").parquet(d)
    drain()
    got = {r["grp"]: (r["n_rows"], r["sum_value"]) for r in view.read().collect()}
    assert got == {"a": (2, 3.25), "b": (1, 5.5)}


@pytest.mark.parametrize("maintenance", ["compact", "optimize", "zorder", "vacuum"])
def test_matview_refresh_after_compaction_rebuilds(spark, mv_setup, maintenance):
    """ADVICE r3 (high): compaction merges the log files and drops
    superseded versions, so the view's stored baseline position no
    longer replays — a naive delta would miscount onto the stored
    state. refresh() must detect the
    compaction watermark and rebuild, staying bit-identical to the
    direct aggregate; later refreshes resume the delta path."""
    from db_spark.table import uuid7

    c, view = mv_setup
    c.set_objects(None, _rows(spark, [
        (str(i), "g" + str(i % 3), float(i)) for i in range(24)]))
    view.refresh()
    tx = uuid7()
    c.set_objects(tx, _rows(spark, [
        (str(i), "g" + str(i % 3), float(i) + 50.5) for i in range(0, 24, 4)]))
    c.commit(tx)
    if maintenance == "compact":
        c.compact()
    elif maintenance == "optimize":
        c.optimize(["grp"])
    elif maintenance == "vacuum":
        # collapse all whole segments below the current position —
        # advances the watermark like compact, so refresh must rebuild
        assert c.vacuum(c.log_position()) >= 2
    else:
        c.optimize_zorder(["val"], bits=6)

    def direct():
        return {r["grp"]: (r["n"], r["s"]) for r in (
            c.table_scan().groupBy("grp")
            .agg(F.count("val").alias("n"),
                 (F.sum(F.round(F.col("val") * 100).cast("long"))
                  .cast("double") / 100.0).alias("s")).collect())}

    view.refresh()  # baseline predates watermark -> full rebuild
    got = {r["grp"]: (r["n_rows"], r["sum_value"])
           for r in view.read().collect()}
    assert got == direct()
    # post-compaction writes refresh incrementally again (no rebuild)
    txd = uuid7()
    c.delete_where(txd, F.col("val") < 3.0)
    c.commit(txd)
    c.set_objects(None, _rows(spark, [("900", "g9", 9.25)]))
    view.refresh()
    got = {r["grp"]: (r["n_rows"], r["sum_value"])
           for r in view.read().collect()}
    assert got == direct()


def test_matview_read_survives_one_refresh(spark, mv_setup):
    """ADVICE r3 (low): a read() DataFrame obtained before a refresh must
    still evaluate afterwards — the previous epoch directory is retained
    (only epoch-2 is reaped)."""
    import os as _os

    c, view = mv_setup
    c.set_objects(None, _rows(spark, [("1", "a", 1.0)]))
    view.refresh()
    held = view.read()
    c.set_objects(None, _rows(spark, [("2", "b", 2.0)]))
    view.refresh()
    assert {r["grp"] for r in held.collect()} == {"a"}  # lazy plan still valid
    # epoch-2 is gone after one more refresh (bounded retention)
    c.set_objects(None, _rows(spark, [("3", "c", 3.0)]))
    view.refresh()
    epochs = sorted(d for d in _os.listdir(view.path) if d.startswith("state-"))
    assert len(epochs) == 2


def test_bloom_grouped_probe_and_conflation_guard(spark):
    """ADVICE r3: probing a grouped bloom filter without group_cols
    silently OR-ed every group's words together. Now: grouped probes
    join per group; a group-bearing sketch without group_cols raises."""
    df = spark.createDataFrame(
        [("g1", i) for i in range(50)] + [("g2", i) for i in range(500, 550)],
        "g string, v int")
    skb = sk.bloom_sketch(df, F.col("v"), bits=1 << 12, k=4, group_cols=["g"])
    with pytest.raises(ValueError, match="group columns"):
        sk.bloom_contains(skb, df, "v", bits=1 << 12, k=4)
    probes = spark.createDataFrame(
        [("g1", 5), ("g1", 510), ("g2", 510), ("g2", 5)], "g string, v int")
    got = {(r["g"], r["v"]): r["maybe_present"] for r in sk.bloom_contains(
        skb, probes, "v", bits=1 << 12, k=4, group_cols=["g"]).collect()}
    assert got[("g1", 5)] and got[("g2", 510)]  # members: never negative
    # cross-group probes are (overwhelmingly likely) rejected — the whole
    # point of not conflating groups
    assert not got[("g1", 510)] and not got[("g2", 5)]


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

def test_hll_state_bounded_and_estimate_close(spark):
    n = 5000
    df = spark.range(n).select(F.col("id").cast("int").alias("v"))
    sketch = sk.hll_sketch(df, F.col("v"), p=8)
    assert sketch.count() <= 256
    est = sk.hll_estimate(sketch, p=8).collect()[0]["est_distinct"]
    # standard error ~ 1.04/sqrt(256) ~ 6.5%; allow 3 sigma
    assert abs(est - n) / n < 0.20


def test_hll_small_range_exactish(spark):
    # linear-counting regime: tiny cardinalities come back near-exact
    df = spark.createDataFrame([(i,) for i in range(10)], "v int")
    est = sk.hll_estimate(sk.hll_sketch(df, F.col("v"), p=8),
                          p=8).collect()[0]["est_distinct"]
    assert abs(est - 10) <= 1


def test_hll_null_safe_and_duplicate_invariant(spark):
    a = spark.createDataFrame([(1,), (2,), (None,)], "v int")
    b = spark.createDataFrame([(1,), (1,), (2,), (2,), (2,)], "v int")
    sa = sorted(map(tuple, sk.hll_sketch(a, F.col("v"), p=6).collect()))
    sb = sorted(map(tuple, sk.hll_sketch(b, F.col("v"), p=6).collect()))
    assert sa == sb  # NULL skipped; duplicates do not move registers


# ---------------------------------------------------------------------------
# KMV set-operation estimates
# ---------------------------------------------------------------------------

def test_kmv_set_exact_when_under_k(spark):
    # |A|=30, |B|=25, |A∩B|=15 — all under k, so the merged sketch holds
    # every hash and the "estimates" are exact set sizes.
    a = spark.range(0, 30).select(F.col("id").alias("v"))
    b = spark.range(15, 40).select(F.col("id").alias("v"))
    sa = sk.kmv_sketch(a, F.col("v"), k=64)
    sb = sk.kmv_sketch(b, F.col("v"), k=64)
    row = sk.kmv_set_estimate(sa, sb, k=64).collect()[0]
    assert row["est_union"] == 40
    assert row["est_intersection"] == 15
    assert row["n_both"] == 15
    assert abs(row["jaccard"] - 15 / 40) < 1e-12


def test_kmv_set_estimate_close_when_full(spark):
    # 3000 vs 3000 with 1500 shared: k=256 sketches should estimate
    # union ~4500 and jaccard ~1/3 within sketch error.
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(1500, 4500).select(F.col("id").alias("v"))
    sa = sk.kmv_sketch(a, F.col("v"), k=256)
    sb = sk.kmv_sketch(b, F.col("v"), k=256)
    row = sk.kmv_set_estimate(sa, sb, k=256).collect()[0]
    assert 3600 <= row["est_union"] <= 5400  # ±20%
    assert 0.2 <= row["jaccard"] <= 0.47
    assert 900 <= row["est_intersection"] <= 2200


def test_kmv_set_disjoint_and_grouped(spark):
    df = spark.createDataFrame(
        [("g1", i) for i in range(40)] + [("g2", i) for i in range(10)],
        "g string, v int")
    sa = sk.kmv_sketch(df.filter(F.col("v") % 2 == 0), F.col("v"),
                       k=64, group_cols=["g"])
    sb = sk.kmv_sketch(df.filter(F.col("v") % 2 == 1), F.col("v"),
                       k=64, group_cols=["g"])
    out = {r["g"]: r for r in
           sk.kmv_set_estimate(sa, sb, k=64, group_cols=["g"]).collect()}
    # evens and odds are disjoint: intersection exactly 0 per group
    for g, n in [("g1", 40), ("g2", 10)]:
        assert out[g]["n_both"] == 0
        assert out[g]["est_intersection"] == 0
        assert out[g]["jaccard"] == 0.0
        assert out[g]["est_union"] == n


# ---------------------------------------------------------------------------
# Incremental join-aggregate view
# ---------------------------------------------------------------------------

@pytest.fixture()
def jv_setup(spark, tmp_path):
    from db_spark.engine import Storage, StorageConfig
    from db_spark.matview import IncrementalJoinAggView

    st = Storage(spark, str(tmp_path / "store"), StorageConfig(max_entries=64))
    a = st.get_collection("dim")
    b = st.get_collection("fact")
    view = IncrementalJoinAggView(
        a, b, "k", "fk", "grp", "val", str(tmp_path / "jview"))
    return a, b, view


def _dim(spark, rows):
    return spark.createDataFrame(rows, "_id string, k long, grp string")


def _fact(spark, rows):
    return spark.createDataFrame(rows, "_id string, fk long, val double")


def _direct_join(a, b):
    j = (a.table_scan().select("k", "grp")
         .join(b.table_scan().select("fk", "val"),
               F.col("k") == F.col("fk")))
    return {r["grp"]: (r["n"], r["s"]) for r in (
        j.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"),
             (F.sum(F.round(F.col("val") * 100).cast("long"))
              .cast("double") / 100.0).alias("s")).collect())}


def test_joinview_initial_build(spark, jv_setup):
    a, b, view = jv_setup
    a.set_objects(None, _dim(spark, [("d1", 1, "x"), ("d2", 2, "y")]))
    b.set_objects(None, _fact(spark, [
        ("f1", 1, 10.0), ("f2", 1, 2.5), ("f3", 2, 4.0), ("f4", 9, 99.0)]))
    view.refresh()
    got = {r["grp"]: (r["n_rows"], r["sum_value"])
           for r in view.read().collect()}
    assert got == {"x": (2, 12.5), "y": (1, 4.0)}


def test_joinview_incremental_matches_direct(spark, jv_setup):
    from db_spark.table import uuid7

    a, b, view = jv_setup
    a.set_objects(None, _dim(
        spark, [(f"d{i}", i, "g" + str(i % 3)) for i in range(12)]))
    b.set_objects(None, _fact(
        spark, [(f"f{i}", i % 12, float(i)) for i in range(60)]))
    view.refresh()  # full build

    # fact-side churn: upsert (move rows to other keys + new values),
    # delete, insert
    tx = uuid7()
    b.set_objects(tx, _fact(
        spark, [(f"f{i}", (i + 1) % 12, float(i) + 0.25)
                for i in range(0, 60, 7)]))
    b.commit(tx)
    txd = uuid7()
    b.delete_where(txd, F.col("val") > 50.0)
    b.commit(txd)
    # dim-side churn: regroup key 3, delete key 5, add key 12 with facts
    tx2 = uuid7()
    a.set_objects(tx2, _dim(spark, [("d3", 3, "moved"), ("d12", 12, "new")]))
    a.commit(tx2)
    txd2 = uuid7()
    a.delete_where(txd2, F.col("k") == 5)
    a.commit(txd2)
    tx3 = uuid7()
    b.set_objects(tx3, _fact(spark, [("f100", 12, 8.5), ("f101", 12, 1.5)]))
    b.commit(tx3)

    view.refresh()  # incremental: both sides changed
    got = {r["grp"]: (r["n_rows"], r["sum_value"])
           for r in view.read().collect()}
    assert got == _direct_join(a, b)
    assert "moved" in got and "new" in got
    assert not any(g for g in got if got[g][0] == 0)


def test_joinview_refresh_noop_and_group_vanish(spark, jv_setup):
    from db_spark.table import uuid7

    a, b, view = jv_setup
    a.set_objects(None, _dim(spark, [("d1", 1, "x"), ("d2", 2, "y")]))
    b.set_objects(None, _fact(spark, [("f1", 1, 3.0), ("f2", 2, 4.0)]))
    p1 = view.refresh()
    assert view.refresh() == p1  # no changes: positions unchanged
    # delete the only fact of group y: the group must vanish
    txd = uuid7()
    b.delete_where(txd, F.col("fk") == 2)
    b.commit(txd)
    view.refresh()
    got = {r["grp"] for r in view.read().collect()}
    assert got == {"x"}


def test_joinview_rebuilds_after_compaction(spark, jv_setup):
    from db_spark.table import uuid7

    a, b, view = jv_setup
    a.set_objects(None, _dim(spark, [("d1", 1, "x"), ("d2", 2, "y")]))
    b.set_objects(None, _fact(
        spark, [(f"f{i}", 1 + i % 2, float(i)) for i in range(10)]))
    view.refresh()
    tx = uuid7()
    b.set_objects(tx, _fact(spark, [("f0", 1, 77.0)]))
    b.commit(tx)
    b.compact()  # destroys the fact log prefix the view was based on
    view.refresh()  # must detect the watermark and rebuild, not delta
    got = {r["grp"]: (r["n_rows"], r["sum_value"])
           for r in view.read().collect()}
    assert got == _direct_join(a, b)


# ---------------------------------------------------------------------------
# CM join-size estimation
# ---------------------------------------------------------------------------

def test_cm_join_size_never_undercounts_and_exact_when_wide(spark):
    a = spark.range(0, 200).select((F.col("id") % 40).alias("k"))
    b = spark.range(0, 300).select((F.col("id") % 60).alias("k"))
    exact = a.join(b, "k").count()
    # wide sketch: no collisions → estimate exact
    sa = sk.cm_sketch(a, F.col("k"), depth=3, width=4096)
    sb = sk.cm_sketch(b, F.col("k"), depth=3, width=4096)
    row = sk.cm_join_size(sa, sb, depth=3).collect()[0]
    assert row["est_join_rows"] == exact
    # narrow sketch: collisions inflate, never deflate
    na = sk.cm_sketch(a, F.col("k"), depth=3, width=16)
    nb = sk.cm_sketch(b, F.col("k"), depth=3, width=16)
    narrow = sk.cm_join_size(na, nb, depth=3).collect()[0]
    assert narrow["est_join_rows"] >= exact
    assert narrow["est_max"] >= narrow["est_join_rows"]


def test_cm_join_size_disjoint_keys_zero(spark):
    a = spark.range(0, 50).select(F.col("id").alias("k"))
    b = spark.range(1000, 1050).select(F.col("id").alias("k"))
    sa = sk.cm_sketch(a, F.col("k"), depth=3, width=8192)
    sb = sk.cm_sketch(b, F.col("k"), depth=3, width=8192)
    row = sk.cm_join_size(sa, sb, depth=3).collect()[0]
    # wide enough that some depth row has zero overlap: MIN must hit 0
    assert row["est_join_rows"] == 0


def test_hll_set_estimate_overlap_and_disjoint(spark):
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(1500, 4500).select(F.col("id").alias("v"))
    sa = sk.hll_sketch(a, F.col("v"), p=8)
    sb = sk.hll_sketch(b, F.col("v"), p=8)
    row = sk.hll_set_estimate(sa, sb, p=8).collect()[0]
    assert 3800 <= row["est_union"] <= 5200        # ~4500 ± HLL error
    assert 800 <= row["est_intersection"] <= 2300  # ~1500
    assert 0.15 <= row["jaccard"] <= 0.55
    # disjoint sets: inclusion-exclusion lands near zero, clamped >= 0
    c = spark.range(10_000, 13_000).select(F.col("id").alias("v"))
    sc_ = sk.hll_sketch(c, F.col("v"), p=8)
    d = sk.hll_set_estimate(sa, sc_, p=8).collect()[0]
    assert d["est_intersection"] >= 0
    assert d["est_intersection"] < 0.15 * d["est_union"]
