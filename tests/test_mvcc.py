"""MVCC / log-structured table scenario tests mirroring the reference's
table_scan visibility rules (src/operators/sourcing/table_scan.rs:64-123)
and set_objects write path (src/collection/mod.rs:46-93)."""

import pytest
from pyspark.sql import types as T

from db_spark.engine import Storage, StorageConfig
from db_spark.table import NIL_TXID, SchemaError, uuid7


@pytest.fixture()
def storage(spark, tmp_path):
    return Storage(spark, str(tmp_path), StorageConfig(max_entries=64))


def _df(spark, rows):
    return spark.createDataFrame(rows, "_id string, name string, qty int")


def test_uuid7_monotonic():
    ids = [uuid7() for _ in range(100)]
    assert ids == sorted(ids)
    assert len(set(ids)) == 100


def test_nil_txid_precommitted(storage, spark):
    """nil txid is pre-committed (reference table_scan.rs:50-51)."""
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1), ("b", "y", 2)]))
    assert c.table_scan().count() == 2


def test_uncommitted_invisible(storage, spark):
    c = storage.get_collection("t")
    tx = uuid7()
    c.set_objects(tx, _df(spark, [("a", "x", 1)]))
    assert c.table_scan().count() == 0  # no commit marker
    c.commit(tx)
    assert c.table_scan().count() == 1


def test_rollback_invisible(storage, spark):
    c = storage.get_collection("t")
    tx = uuid7()
    c.set_objects(tx, _df(spark, [("a", "x", 1)]))
    c.rollback(tx)
    assert c.table_scan().count() == 0


def test_newest_committed_version_wins(storage, spark):
    c = storage.get_collection("t")
    t1 = uuid7()
    c.set_objects(t1, _df(spark, [("a", "old", 1)]))
    c.commit(t1)
    t2 = uuid7()
    c.set_objects(t2, _df(spark, [("a", "new", 2)]))
    c.commit(t2)
    rows = c.table_scan().collect()
    assert len(rows) == 1 and rows[0]["name"] == "new"


def test_snapshot_time_travel(storage, spark):
    c = storage.get_collection("t")
    t1 = uuid7()
    c.set_objects(t1, _df(spark, [("a", "v1", 1)]))
    c.commit(t1)
    snap = uuid7()  # snapshot point between the two transactions
    t2 = uuid7()
    c.set_objects(t2, _df(spark, [("a", "v2", 2)]))
    c.commit(t2)
    assert c.table_scan(snap).collect()[0]["name"] == "v1"
    assert c.table_scan().collect()[0]["name"] == "v2"


def test_scan_at_wall_clock_time_travel(storage, spark):
    import time

    c = storage.get_collection("t")
    t1 = uuid7()
    c.set_objects(t1, _df(spark, [("a", "v1", 1)]))
    c.commit(t1)
    time.sleep(0.05)
    mid = time.time()
    time.sleep(0.05)
    t2 = uuid7()
    c.set_objects(t2, _df(spark, [("a", "v2", 2)]))
    c.commit(t2)
    assert c.scan_at(mid).collect()[0]["name"] == "v1"
    assert c.scan_at(time.time()).collect()[0]["name"] == "v2"
    # txid_at bound is inclusive of everything in that millisecond
    from db_spark.table import txid_at
    assert txid_at(mid) > t1 and txid_at(mid) < t2


def test_tombstone_suppresses(storage, spark):
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1), ("b", "y", 2)]))
    t = uuid7()
    c.delete_objects(t, ["a"])
    c.commit(t)
    rows = c.table_scan().collect()
    assert [r["_id"] for r in rows] == ["b"]


def test_schema_shape_check(storage, spark):
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1)]))
    bad = spark.createDataFrame([("b", 5, 6)], "_id string, name int, qty int")
    with pytest.raises(SchemaError):
        c.set_objects(None, bad)
    # same type sequence, different names: OK (positional schema, SURVEY §1.3)
    renamed = spark.createDataFrame([("b", "z", 3)], "_id string, other string, n int")
    c.set_objects(None, renamed)
    assert c.table_scan().count() == 2


def test_compaction_preserves_snapshot(storage, spark):
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]))
    c.set_objects(None, _df(spark, [("a", "v2", 2)]))
    t = uuid7()
    c.delete_objects(t, ["b"])
    c.commit(t)
    before = {(r["_id"], r["name"]) for r in c.table_scan().collect()}
    stats = c.statistics()
    assert stats.total_entries == 5  # 3 upserts + 1 tombstone + 1 marker
    assert stats.live_entries == 1
    assert stats.should_compact
    c.compact()
    after = {(r["_id"], r["name"]) for r in c.table_scan().collect()}
    assert before == after == {("a", "v2")}
    assert c.statistics().total_entries == 1


def test_optimize_sorted_preserves_snapshot(storage, spark):
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [(str(i), f"n{i}", i % 7) for i in range(100)]))
    before = {(r["_id"], r["qty"]) for r in c.table_scan().collect()}
    c.optimize(sort_by=["qty"])
    after = {(r["_id"], r["qty"]) for r in c.table_scan().collect()}
    assert before == after and len(after) == 100


def test_inverted_index(storage, spark):
    c = storage.get_collection("docs")
    c.set_objects(None, spark.createDataFrame(
        [("a", "spark is fast"), ("b", "spark is lazy")],
        "_id string, body string"))
    idx = {r["term"]: (sorted(r["ids"]), r["df"])
           for r in c.inverted_index("body").collect()}
    assert idx["spark"] == (["a", "b"], 2)
    assert idx["fast"] == (["a"], 1)


def test_column_stats(storage, spark):
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [(str(i), "x", i % 3) for i in range(9)]))
    stats = {r["value"]: r["n_rows"] for r in c.column_stats("qty").collect()}
    assert stats == {0: 3, 1: 3, 2: 3}


def test_snapshot_cache_reuse_and_invalidation(storage, spark):
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "v1", 1)]))
    s1 = c.table_scan()
    s2 = c.table_scan()
    assert s1 is s2  # same resolved view reused (no second window-dedup)
    assert s1.storageLevel.useMemory  # persisted
    c.set_objects(None, _df(spark, [("b", "v1", 2)]))  # write invalidates
    s3 = c.table_scan()
    assert s3 is not s1
    assert {r["_id"] for r in s3.collect()} == {"a", "b"}


def test_snapshot_cache_explicit_txid(storage, spark):
    from db_spark.table import uuid7

    c = storage.get_collection("t")
    tx = uuid7()
    c.set_objects(tx, _df(spark, [("a", "v1", 1)]))
    c.commit(tx)
    snap_tx = uuid7()
    assert c.table_scan(snap_tx) is c.table_scan(snap_tx)
    assert c.table_scan(snap_tx).count() == 1


def test_changes_cdc(storage, spark):
    c = storage.get_collection("t")
    tx1 = uuid7()
    c.set_objects(tx1, _df(spark, [("a", "v1", 1), ("b", "v1", 1), ("d", "v1", 1)]))
    c.commit(tx1)
    t_old = uuid7()
    tx2 = uuid7()
    c.set_objects(tx2, _df(spark, [("b", "v2", 2), ("c", "v1", 1)]))  # update b, insert c
    c.commit(tx2)
    tx3 = uuid7()
    c.delete_objects(tx3, ["d"])                                      # delete d
    c.commit(tx3)
    got = {(r["_id"], r["_change"]): (r["name"], r["qty"])
           for r in c.changes(t_old).collect()}
    assert set(got) == {("b", "U"), ("c", "I"), ("d", "D")}
    assert got[("b", "U")] == ("v2", 2)
    assert got[("c", "I")] == ("v1", 1)
    assert got[("d", "D")] == (None, None)


def test_storage_list_and_drop(storage, spark):
    c = storage.get_collection("todrop")
    c.set_objects(None, _df(spark, [("a", "x", 1)]))
    assert "todrop" in storage.list_collections()
    storage.drop_collection("todrop")
    assert "todrop" not in storage.list_collections()
    # recreated collection starts empty
    assert storage.get_collection("todrop").table_scan().count() == 0


def test_nil_write_supersedes_committed(storage, spark):
    """Recency among visible entries is log position, not txid rank: a
    later pre-committed (nil-txid) write must beat an earlier committed
    version (reference walks the log newest-first, table_scan.rs:66-101)."""
    c = storage.get_collection("t")
    tx = uuid7()
    c.set_objects(tx, _df(spark, [("a", "v1", 1)]))
    c.commit(tx)
    c.set_objects(None, _df(spark, [("a", "v2", 2)]))
    assert {(r["_id"], r["name"]) for r in c.table_scan().collect()} == {("a", "v2")}


def test_multi_collection_transaction_commit(storage, spark):
    with storage.transaction() as tx:
        tx.set("users", _df(spark, [("u1", "ann", 1)]))
        tx.set("events2", _df(spark, [("e1", "click", 5)]))
        # invisible to outside readers mid-transaction
        assert storage.get_collection("users").table_scan().count() == 0
        # ...but visible to the transaction itself (read-your-own-writes)
        assert tx.scan("users").count() == 1
    assert storage.get_collection("users").table_scan().count() == 1
    assert storage.get_collection("events2").table_scan().count() == 1


def test_uuid7_monotonic_under_burst():
    """The 12-bit counter must borrow the next millisecond instead of
    wrapping — 5000 ids in (at most) one ms stay strictly increasing."""
    ids = [uuid7() for _ in range(5000)]
    assert ids == sorted(ids)
    assert len(set(ids)) == 5000


def test_reopen_collection_continues_append_order(storage, spark, tmp_path):
    """A new process (fresh Collection instance) writing to an existing
    log must rank AFTER old entries: `_batch` is seeded from max(_batch)
    in the log, so the newest write wins the snapshot."""
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "old1", 1)]))
    c.set_objects(None, _df(spark, [("a", "old2", 2)]))  # batch counter at 1
    # Simulate a new process: fresh Storage + Collection over the same dir
    reopened = Storage(spark, str(tmp_path)).get_collection("t")
    reopened.set_objects(None, _df(spark, [("a", "new", 3)]))
    rows = reopened.table_scan().collect()
    assert len(rows) == 1 and rows[0]["name"] == "new"
    # and the original handle sees it too (shared log)
    c._invalidate_snapshots()
    assert c.table_scan().collect()[0]["name"] == "new"


def test_delete_where_predicate(storage, spark):
    """Predicate delete: tombstones from a DataFrame plan (no driver-side
    id list), honoring MVCC commit semantics."""
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [(str(i), f"n{i}", i) for i in range(10)]))
    tx = uuid7()
    c.delete_where(tx, "qty % 2 = 0")
    # uncommitted: still all visible
    assert c.table_scan().count() == 10
    c.commit(tx)
    rows = {r["_id"] for r in c.table_scan().collect()}
    assert rows == {"1", "3", "5", "7", "9"}


def test_delete_objects_dataframe(storage, spark):
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1), ("b", "y", 2), ("c", "z", 3)]))
    ids = spark.createDataFrame([("a",), ("c",)], "victim string")
    c.delete_objects(None, ids)
    assert [r["_id"] for r in c.table_scan().collect()] == ["b"]


def test_transaction_delete_where(storage, spark):
    storage.get_collection("users").set_objects(
        None, _df(spark, [("u1", "ann", 1), ("u2", "bob", 2), ("u3", "cat", 3)]))
    with storage.transaction() as tx:
        tx.set("users", _df(spark, [("u4", "dan", 4)]))
        # read-your-own-writes: the predicate sees u4 too
        tx.delete_where("users", "qty >= 2")
    rows = {r["_id"] for r in
            storage.get_collection("users").table_scan().collect()}
    assert rows == {"u1"}


def test_multi_collection_transaction_rollback(storage, spark):
    storage.get_collection("users").set_objects(
        None, _df(spark, [("u0", "base", 0)]))
    with pytest.raises(RuntimeError):
        with storage.transaction() as tx:
            tx.set("users", _df(spark, [("u1", "ann", 1)]))
            tx.delete("users", ["u0"])
            raise RuntimeError("abort")
    rows = storage.get_collection("users").table_scan().collect()
    assert [r["_id"] for r in rows] == ["u0"]  # delete + insert both undone


# -- round 3: empty-scan schema, statistics cost, marker hygiene ------------

def test_scan_before_first_write_declared_schema(storage, spark):
    """A never-written collection with a declared payload schema returns
    an empty frame with the full (_id + payload) shape — payload filters
    and projections resolve instead of throwing."""
    schema = T.StructType([
        T.StructField("name", T.StringType(), True),
        T.StructField("qty", T.IntegerType(), True),
    ])
    c = storage.get_collection("fresh", schema=schema)
    snap = c.table_scan()
    assert snap.columns == ["_id", "name", "qty"]
    assert snap.filter("qty > 1").select("name").count() == 0
    # the first write is shape-checked against the declaration
    c.set_objects(None, _df(spark, [("a", "x", 1)]))
    assert c.table_scan().filter("qty >= 1").count() == 1


def test_scan_before_first_write_undeclared(storage, spark):
    c = storage.get_collection("fresh2")
    snap = c.table_scan()
    assert snap.columns == ["_id"]
    assert snap.count() == 0


def test_declared_schema_shape_mismatch(storage, spark):
    schema = T.StructType([T.StructField("only", T.LongType(), True)])
    c = storage.get_collection("fresh3", schema=schema)
    with pytest.raises(SchemaError):
        c.set_objects(None, _df(spark, [("a", "x", 1)]))


def test_statistics_metadata_only(storage, spark):
    """total_entries comes from parquet footers (zero jobs); the live
    count is computed once from the cached snapshot and memoized — a
    repeat statistics() call runs zero Spark jobs."""
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1), ("b", "y", 2)]))
    c.delete_objects(None, ["a"])
    stats = c.statistics()  # warm: counts the snapshot once
    assert stats.total_entries == 3  # 2 upserts + 1 tombstone
    assert stats.live_entries == 1
    assert stats.redundant_entries == 2
    sc = spark.sparkContext
    sc.setJobGroup("stats-probe", "statistics() job count")
    stats2 = c.statistics()
    sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("stats-probe") == []
    assert stats2.live_entries == 1
    # a write invalidates the memo
    c.set_objects(None, _df(spark, [("c", "z", 3)]))
    assert c.statistics().live_entries == 2


def _spark_jobs(spark, fn):
    """(ids of the Spark jobs ``fn()`` ran, its result)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return sc.statusTracker().getJobIdsForGroup(group), out


def test_log_metadata_runs_zero_spark_jobs(storage, spark):
    """Commit/rollback markers, the log position, the payload schema and
    building a snapshot after this instance's own append are all
    driver-side metadata work: zero Spark jobs."""
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1)]))            # batch 0
    t1 = uuid7()
    c.set_objects(t1, _df(spark, [("b", "y", 2)]))              # batch 1
    assert _spark_jobs(spark, lambda: c.commit(t1))[0] == []    # batch 2
    t2 = uuid7()
    c.set_objects(t2, _df(spark, [("c", "z", 3)]))              # batch 3
    assert _spark_jobs(spark, lambda: c.rollback(t2))[0] == []  # batch 4
    jobs, pos = _spark_jobs(spark, c.log_position)
    assert (jobs, pos) == ([], 4)
    jobs, payload = _spark_jobs(spark, c.payload_schema)
    assert jobs == [] and payload.names == ["name", "qty"]
    c.set_objects(uuid7(), _df(spark, [("d", "w", 4)]))  # pending
    jobs, snap = _spark_jobs(spark, lambda: c.table_scan(t1))
    assert jobs == []
    assert {(r["_id"], r["name"], r["qty"]) for r in snap.collect()} == {
        ("a", "x", 1), ("b", "y", 2)}


def _schema_matches_inference(spark, c):
    """The instance's log schema equals a fresh mergeSchema inference,
    field by field in name and type."""
    got = c._read_log().schema
    fresh = spark.read.option("mergeSchema", "true").parquet(c.log_path).schema
    return ([(f.name, f.dataType) for f in got.fields]
            == [(f.name, f.dataType) for f in fresh.fields])


def test_schema_cache_follows_other_writers_and_maintenance(spark, tmp_path):
    """A second instance sees a column the first added with evolve=True,
    and the cached schema stays equal to a fresh inference across
    compact(), vacuum() and coalesce_markers()."""
    root = str(tmp_path / "sc")
    a = Storage(spark, root, StorageConfig(max_entries=64)).get_collection("t")
    b = Storage(spark, root, StorageConfig(max_entries=64)).get_collection("t")
    a.set_objects(None, _df(spark, [("a", "x", 1), ("b", "y", 2)]))
    assert b.payload_schema().names == ["name", "qty"]  # b's cache is warm
    wide = spark.createDataFrame(
        [("c", "z", 3, "n")], "_id string, name string, qty int, note string")
    tx = uuid7()
    a.set_objects(tx, wide, evolve=True)
    a.commit(tx)
    assert a.payload_schema().names == ["name", "qty", "note"]
    assert b.payload_schema().names == ["name", "qty", "note"]
    b._invalidate_snapshots()
    assert {(r["_id"], r["note"]) for r in b.table_scan().collect()} == {
        ("a", None), ("b", None), ("c", "n")}
    assert _schema_matches_inference(spark, a)

    for i in range(3):
        t = uuid7()
        a.set_objects(t, _df(spark, [(f"r{i}", "v", i)]), evolve=True)
        a.commit(t)
    before = _snap(a)
    assert a.coalesce_markers(min_files=2) > 0
    assert _schema_matches_inference(spark, a) and _snap(a) == before
    assert a.vacuum(a.log_position() + 1) >= 2
    assert _schema_matches_inference(spark, a) and _snap(a) == before
    a.compact()
    assert _schema_matches_inference(spark, a) and _snap(a) == before
    # own appends after maintenance keep the cache in step
    a.set_objects(None, spark.createDataFrame(
        [("e", "q", 5, "m")], "_id string, name string, qty int, note string"))
    t = uuid7()
    a.delete_objects(t, ["a"])
    a.commit(t)
    assert _schema_matches_inference(spark, a)
    b._invalidate_snapshots()
    assert {r["_id"] for r in b.table_scan().collect()} == {
        "b", "c", "e", "r0", "r1", "r2"}


def test_marker_fold_keeps_column_of_empty_evolved_batch(storage, spark):
    """Markers carry only the metadata columns, so the empty stub file
    of an empty evolved batch can be the only file naming its new
    column; folding markers must not drop that stub."""
    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1)]))
    tx = uuid7()
    c.set_objects(tx, spark.createDataFrame(
        [], "_id string, name string, qty int, note string"), evolve=True)
    c.commit(tx)
    assert c.payload_schema().names == ["name", "qty", "note"]
    c.coalesce_markers(min_files=1)
    assert _schema_matches_inference(spark, c)
    assert c.payload_schema().names == ["name", "qty", "note"]


def test_full_width_and_narrow_markers_read_alike(spark, tmp_path):
    """A log holding commit markers in the full-width layout (payload
    columns NULL) next to narrow metadata-only ones resolves both."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "mix")
    c = Storage(spark, root).get_collection("t")
    t1 = uuid7()
    c.set_objects(t1, _df(spark, [("a", "x", 1)]))  # batch 0
    pq.write_table(pa.table({
        "_txid": [t1], "_batch": [1], "_seq": [0], "_kind": ["C"],
        "_id": pa.array([None], pa.string()),
        "name": pa.array([None], pa.string()),
        "qty": pa.array([None], pa.int32())}),
        _os.path.join(c.log_path, "full-width-marker.parquet"))
    c = Storage(spark, root).get_collection("t")  # reopen: seeds from 1
    t2 = uuid7()
    c.set_objects(t2, _df(spark, [("b", "y", 2)]))
    c.commit(t2)
    assert c.log_position() == 3
    assert _schema_matches_inference(spark, c)
    assert _snap(c) == {("a", "x", 1), ("b", "y", 2)}
    assert {r["_id"] for r in c.table_scan(t1).collect()} == {"a"}
    assert c.coalesce_markers(min_files=2) >= 2
    c._invalidate_snapshots()
    assert _snap(c) == {("a", "x", 1), ("b", "y", 2)}


def test_leftover_marker_temp_file_is_ignored(storage, spark):
    """A marker write cut off between its write and its rename leaves a
    hidden temp file in the log; no read or maintenance path sees it."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1)]))
    tx = uuid7()
    c.set_objects(tx, _df(spark, [("b", "y", 2)]))
    c.commit(tx)
    pos = c.log_position()
    leftover = _os.path.join(c.log_path, f".marker-{'0' * 32}.parquet.tmp")
    pq.write_table(pa.table({
        "_txid": [NIL_TXID], "_batch": [pos + 10], "_seq": [0],
        "_kind": ["U"], "_id": ["ghost"], "name": ["g"], "qty": [9]}),
        leftover)
    c._invalidate_snapshots()
    assert _snap(c) == {("a", "x", 1), ("b", "y", 2)}
    assert c.statistics().total_entries == 3
    assert c.log_position() == pos
    c.coalesce_markers(min_files=1)
    assert _os.path.isfile(leftover)
    assert _snap(c) == {("a", "x", 1), ("b", "y", 2)}


def test_log_position_without_footer_statistics(storage, spark):
    """A log file whose writer kept no column statistics still counts:
    log_position falls back to a Spark aggregate, and segment order
    reads the ``_batch`` column."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    c = storage.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1)]).coalesce(1))
    pq.write_table(pa.table({
        "_txid": [NIL_TXID], "_batch": [7], "_seq": [0], "_kind": ["U"],
        "_id": ["a"], "name": ["x2"], "qty": [pa.scalar(2, pa.int32())]}),
        _os.path.join(c.log_path, "foreign.parquet"), write_statistics=False)
    assert c.log_position() == 7
    assert [lo for _p, lo, _hi in c._data_files()] == [0, 7]
    c._invalidate_snapshots()
    assert _snap(c) == {("a", "x2", 2)}


def test_no_crc_outlives_its_segment(spark, tmp_path):
    """Deleting a Spark-written segment also deletes Hadoop's
    ``.<name>.crc`` sibling: coalesce_markers, compact and vacuum leave
    no orphaned checksum files."""
    import os as _os

    st = Storage(spark, str(tmp_path / "crc"), StorageConfig(max_entries=64))
    c = st.get_collection("t")

    def orphans():
        names = set(_os.listdir(c.log_path))
        return sorted(n for n in names
                      if n.endswith(".crc") and n[1:-4] not in names)

    for i in range(4):
        tx = uuid7()
        c.set_objects(tx, _df(spark, [(f"r{i}", "v1", i), ("k", "v1", i)]))
        c.commit(tx)
    assert c.coalesce_markers(min_files=2) > 0
    assert orphans() == []
    c.compact()
    assert orphans() == []
    c.set_objects(None, _df(spark, [("k", "v2", 9)]))
    assert c.vacuum(c.log_position() + 1) >= 2
    assert orphans() == []
    assert _snap(c) == {("r0", "v1", 0), ("r1", "v1", 1), ("r2", "v1", 2),
                        ("r3", "v1", 3), ("k", "v2", 9)}


def test_marker_coalesce_bounds_files(storage, spark):
    """Many tiny commit-marker files fold into one segment; the visible
    snapshot and txid visibility are unchanged."""
    import os as _os

    c = storage.get_collection("t")
    txids = []
    for i in range(10):
        tx = uuid7()
        c.set_objects(tx, _df(spark, [(f"r{i}", "v", i)]))
        c.commit(tx)
        txids.append(tx)
    log = c.log_path
    n_before = len([f for f in _os.listdir(log) if f.endswith(".parquet")])
    folded = c.coalesce_markers(min_files=2)
    n_after = len([f for f in _os.listdir(log) if f.endswith(".parquet")])
    # 10 marker files merged into one + 10 empty schema-stub part files
    # (Spark writes one next to each small data append) swept
    assert folded == 20
    assert n_after == n_before - folded + 1
    snap = c.table_scan()
    assert snap.count() == 10
    # historical snapshot still honors marker txids after the fold
    assert c.table_scan(txids[4]).count() == 5


@pytest.mark.full
def test_maybe_compact_folds_markers(spark, tmp_path):
    # redundancy threshold 0.9 so 1-row-per-commit traffic (1 marker per
    # data row = 50% redundancy) exercises the fold path, not compaction.
    # Full tier (r13 suite budget): 70 commits = 140 log writes, minutes
    # of wall; the smoke tier keeps the fold behavior covered by
    # test_marker_coalesce_bounds_files.
    st = Storage(spark, str(tmp_path / "mk"),
                 StorageConfig(max_entries=64,
                               compaction_redundancy_percentage=0.9))
    c = st.get_collection("t")
    for i in range(70):
        tx = uuid7()
        c.set_objects(tx, _df(spark, [(f"r{i}", "v", i)]))
        c.commit(tx)
    import os as _os
    assert not c.statistics().should_compact
    assert not c.maybe_compact()
    n_files = len([f for f in _os.listdir(c.log_path) if f.endswith(".parquet")])
    # 70 data files + 1 folded marker segment
    assert n_files <= 71
    assert c.table_scan().count() == 70


def test_zorder_clusters_both_columns(spark, tmp_path):
    """Z-order compaction: every written file covers a small rectangle
    in (a, b) space, so min/max stats prune on EITHER column — unlike a
    single-column sort, which leaves the second column unclustered."""
    import os as _os

    import pyarrow.parquet as pq

    st = Storage(spark, str(tmp_path / "z"), StorageConfig(max_entries=64))
    c = st.get_collection("grid")
    rows = [(f"{a}-{b}", a, b) for a in range(32) for b in range(32)]
    c.set_objects(None, spark.createDataFrame(
        rows, "_id string, a int, b int"))
    before = {r["_id"] for r in c.table_scan().collect()}
    c.optimize_zorder(["a", "b"], bits=8)
    after = {r["_id"] for r in c.table_scan().collect()}
    assert after == before  # same visible snapshot
    a_spans, b_spans = [], []
    for fn in _os.listdir(c.log_path):
        if not fn.endswith(".parquet"):
            continue
        t = pq.read_table(_os.path.join(c.log_path, fn), columns=["a", "b"])
        if t.num_rows <= 1:
            continue
        aa, bb = t.column("a").to_pylist(), t.column("b").to_pylist()
        a_spans.append(max(aa) - min(aa))
        b_spans.append(max(bb) - min(bb))
    assert a_spans, "compaction wrote no data files"
    avg_a = sum(a_spans) / len(a_spans)
    avg_b = sum(b_spans) / len(b_spans)
    # a plain a-sort gives avg_a ~2 but avg_b ~31 (sum ~33); z-order
    # keeps BOTH small
    assert avg_a + avg_b < 32, (avg_a, avg_b)
    assert avg_a < 24 and avg_b < 24


def test_zorder_empty_collection_no_crash(spark, tmp_path):
    """ADVICE r3: optimize_zorder crashed with TypeError (None - None)
    when min/max came back NULL. Empty or never-written collections must
    be a no-op / plain compact, not a crash."""
    st = Storage(spark, str(tmp_path / "ze"), StorageConfig(max_entries=64))
    c = st.get_collection("empty")
    c.optimize_zorder(["a"])  # never written: no-op
    assert c.table_scan().count() == 0
    # written then fully deleted: all-NULL min/max -> falls back to compact
    c.set_objects(None, spark.createDataFrame(
        [("x", 1)], "_id string, a int"))
    c.delete_where(None, "a = 1")
    c.optimize_zorder(["a"])
    assert c.table_scan().count() == 0


def test_zorder_non_numeric_columns_fall_back(spark, tmp_path):
    """String columns cast('double') to NULL — they carry no numeric
    locality. They are skipped; with none usable the call degrades to a
    plain compact. The visible snapshot is preserved either way."""
    st = Storage(spark, str(tmp_path / "zs"), StorageConfig(max_entries=64))
    c = st.get_collection("strs")
    rows = [(str(i), f"name-{i}", i) for i in range(50)]
    c.set_objects(None, spark.createDataFrame(
        rows, "_id string, name string, qty int"))
    before = {(r["_id"], r["name"], r["qty"]) for r in c.table_scan().collect()}
    c.optimize_zorder(["name"])  # all non-numeric -> compact fallback
    assert {(r["_id"], r["name"], r["qty"])
            for r in c.table_scan().collect()} == before
    c.optimize_zorder(["name", "qty"])  # mixed: clusters on qty only
    assert {(r["_id"], r["name"], r["qty"])
            for r in c.table_scan().collect()} == before


def test_compaction_watermark_recorded(spark, tmp_path):
    """compact/optimize/optimize_zorder destroy the log prefix below the
    position they merge at; each must advance the persisted watermark
    incremental consumers check. The merge position itself still
    replays, and stays the log position when the merge drops the
    entries that reached it (a tombstone and its commit marker), so a
    reopened collection appends after it."""
    root = str(tmp_path / "wm")
    c = Storage(spark, root, StorageConfig(max_entries=64)).get_collection("t")
    assert c.compaction_watermark() == -1
    c.set_objects(None, spark.createDataFrame(
        [("a", 1), ("b", 2)], "_id string, qty int"))
    assert c.compaction_watermark() == -1  # appends don't destroy prefix
    t = uuid7()
    c.delete_objects(t, ["b"])
    c.commit(t)
    pos = c.log_position()
    before = _snap_qty(c)
    c.compact()
    wm = c.compaction_watermark()
    assert wm == pos == c.log_position()
    assert {(r["_id"], r["qty"])
            for r in c.scan_at_position(pos).collect()} == before
    with pytest.raises(ValueError, match="watermark"):
        c.scan_at_position(pos - 1)
    c2 = Storage(spark, root, StorageConfig(max_entries=64)).get_collection("t")
    c2.set_objects(None, spark.createDataFrame(
        [("c", 3)], "_id string, qty int"))
    assert c2.log_position() == pos + 1
    c2.optimize(["qty"])
    wm2 = c2.compaction_watermark()
    assert wm2 > wm  # monotone across maintenance calls


def _snap(c):
    return {(r["_id"], r["name"], r["qty"]) for r in c.table_scan().collect()}


def _snap_qty(c):
    return {(r["_id"], r["qty"]) for r in c.table_scan().collect()}


def test_compact_segments_preserves_snapshot(spark, tmp_path):
    """The segment merge over the whole log (``compact()``, reference
    log_compaction.rs:9-64) keeps the visible snapshot identical while
    dropping superseded versions — across the pending/rolled-back/
    committed visibility cases."""
    st = Storage(spark, str(tmp_path / "sp"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    # segment 1: two committed-by-default rows
    c.set_objects(None, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]))
    # then: supersede a, add c, tombstone b, plus a pending and a
    # rolled-back write that must NOT be collapsed into the merge
    c.set_objects(None, _df(spark, [("a", "v2", 2), ("c", "v1", 1)]))
    t_del = uuid7()
    c.delete_objects(t_del, ["b"])
    c.commit(t_del)
    t_pend = uuid7()
    c.set_objects(t_pend, _df(spark, [("a", "v3-pending", 3)]))
    t_roll = uuid7()
    c.set_objects(t_roll, _df(spark, [("d", "rolled", 9)]))
    c.rollback(t_roll)
    before = _snap(c)
    assert before == {("a", "v2", 2), ("c", "v1", 1)}
    c.compact()
    assert _snap(c) == before
    # the pending transaction still commits correctly after the merge
    c.commit(t_pend)
    assert _snap(c) == {("a", "v3-pending", 3), ("c", "v1", 1)}
    # rolled-back payload is physically gone from the log
    import pyarrow.parquet as pq
    for p, _lo, _hi in c._data_files():
        names = pq.read_table(p, columns=["name"]).column("name").to_pylist()
        assert "rolled" not in names


def test_compact_segments_drops_superseded_and_advances_watermark(spark, tmp_path):
    st = Storage(spark, str(tmp_path / "sp2"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    # one file per batch so each append is exactly one segment
    c.set_objects(None, _df(spark, [(str(i), "v1", i) for i in range(20)]).coalesce(1))
    c.set_objects(None, _df(spark, [(str(i), "v2", i) for i in range(20)]).coalesce(1))
    pos = c.log_position()
    before = _snap(c)
    c.compact()
    assert _snap(c) == before
    stats = c.statistics()
    assert stats.total_entries == 20  # 40 -> 20: duplicates physically gone
    assert c.compaction_watermark() == pos  # positions below stop replaying
    # winners keep their original _batch (the v2 append's)
    assert {r["_batch"] for r in c.log_entries().collect()} == {pos}
    # recency against LATER segments is preserved (original _batch kept)
    c.set_objects(None, _df(spark, [("0", "v3", 99)]))
    assert ("0", "v3", 99) in _snap(c)


@pytest.mark.parametrize("rewrite", ["compact", "optimize", "optimize_zorder"])
def test_rewrite_keeps_pending_entries_in_log_order(spark, tmp_path, rewrite):
    """Every whole-log rewrite keeps pending-transaction entries, and
    committed winners keep their log position, so a transaction that
    commits after the rewrite resolves by position: its entry older
    than the winner loses, its entry newer than the winner wins, and a
    tombstone newer than a pending entry still suppresses it. Once
    every transaction is decided, a compact leaves no marker and no
    tombstone."""
    st = Storage(spark, str(tmp_path / "pend"), StorageConfig(max_entries=64))
    c = st.get_collection("t")

    def rows(*r):
        return spark.createDataFrame(list(r), "_id string, v int")

    c.set_objects(None, rows(("a", 1), ("b", 1), ("c", 1)))
    t_old = uuid7()
    c.set_objects(t_old, rows(("a", 10), ("b", 10)))  # pending, older
    c.set_objects(None, rows(("a", 2)))               # winner of a
    c.delete_objects(None, ["b"])                     # winner of b
    t_new = uuid7()
    c.set_objects(t_new, rows(("a", 20)))             # pending, newer
    t_c = uuid7()
    c.set_objects(t_c, rows(("c", 3)))
    c.commit(t_c)

    def snap():
        return {r["_id"]: r["v"] for r in c.table_scan().collect()}

    assert snap() == {"a": 2, "c": 3}
    {"compact": c.compact,
     "optimize": lambda: c.optimize(["v"]),
     "optimize_zorder": lambda: c.optimize_zorder(["v"])}[rewrite]()
    assert snap() == {"a": 2, "c": 3}
    c.commit(t_old)
    assert snap() == {"a": 2, "c": 3}
    c.commit(t_new)
    assert snap() == {"a": 20, "c": 3}
    c.compact()
    assert snap() == {"a": 20, "c": 3}
    stats = c.statistics()
    assert stats.total_entries == stats.live_entries == 2


def test_merge_reads_no_schema_inference_job(storage, spark):
    """vacuum() and compact() read their input over the cached log
    schema and fold the files they write into it: the next snapshot
    builds with zero Spark jobs (no mergeSchema inference)."""
    c = storage.get_collection("t")
    for i in range(3):
        t = uuid7()
        c.set_objects(t, _df(spark, [(f"r{i}", "v", i), ("k", "v", i)]))
        c.commit(t)
    want = {("r0", "v", 0), ("r1", "v", 1), ("r2", "v", 2), ("k", "v", 2)}
    assert c.vacuum(c.log_position() + 1) >= 2
    jobs, snap = _spark_jobs(spark, c.table_scan)
    assert jobs == []
    assert {(r["_id"], r["name"], r["qty"]) for r in snap.collect()} == want
    c.compact()
    jobs, snap = _spark_jobs(spark, c.table_scan)
    assert jobs == []
    assert {(r["_id"], r["name"], r["qty"]) for r in snap.collect()} == want
    assert _schema_matches_inference(spark, c)


def test_inverted_index_max_df_guard(storage, spark):
    """VERDICT r3: a corpus-wide stopword term must not collect_list every
    row id into one giant aggregation row. Above-cap terms keep an exact
    df but an empty posting list; selective terms are unaffected."""
    c = storage.get_collection("docs")
    rows = [(str(i), f"the common stopword plus rare{i} token", i)
            for i in range(40)]
    c.set_objects(None, spark.createDataFrame(
        rows, "_id string, name string, qty int"))
    idx = {r["term"]: (len(r["ids"]), r["df"])
           for r in c.inverted_index("name", max_df=10).collect()}
    # ubiquitous terms: df exact, posting list suppressed
    for stop in ("the", "common", "stopword", "plus", "token"):
        assert idx[stop] == (0, 40)
    # selective terms keep full postings
    assert idx["rare7"] == (1, 1)
    # guard off: postings materialize for everything
    full = {r["term"]: len(r["ids"])
            for r in c.inverted_index("name", max_df=None).collect()}
    assert full["the"] == 40 and full["rare7"] == 1


def test_writer_lease_blocks_concurrent_writer(spark, tmp_path):
    """VERDICT r3 #5: a second writer while another is live must get a
    clean error, not interleaved _batch values."""
    import json as _json
    import os as _os
    import time as _time

    from db_spark.table import WriterLeaseError

    st = Storage(spark, str(tmp_path / "l1"))
    c = st.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "x", 1)]))
    # simulate a live holder: lock file with a running pid and fresh ts
    with open(c._lock_path, "w") as fh:
        _json.dump({"pid": _os.getpid(), "token": "other-writer",
                    "ts": _time.time()}, fh)
    c2 = Storage(spark, str(tmp_path / "l1")).get_collection("t")
    c2.lease_timeout = 0.2
    with pytest.raises(WriterLeaseError, match="one writer per collection"):
        c2.set_objects(None, _df(spark, [("b", "y", 2)]))
    _os.remove(c._lock_path)


def test_writer_lease_stale_takeover(spark, tmp_path):
    """A crashed holder (dead pid / ancient lease) must not wedge the
    collection: the lease is taken over."""
    import json as _json

    st = Storage(spark, str(tmp_path / "l2"))
    c = st.get_collection("t")
    with open(c._lock_path, "w") as fh:
        _json.dump({"pid": 2 ** 22 + 12345, "token": "crashed",
                    "ts": 12345.0}, fh)  # long-dead pid, ancient ts
    c.set_objects(None, _df(spark, [("a", "x", 1)]))  # takes over, no error
    assert c.table_scan().count() == 1


def test_writer_lease_handoff_reseeds_batch_counter(spark, tmp_path):
    """Alternating writers from two instances on the same path must not
    collide on _batch: the generation file detects the ownership change
    and the counter re-seeds from the log, so the LAST write wins."""
    a = Storage(spark, str(tmp_path / "l3")).get_collection("t")
    b = Storage(spark, str(tmp_path / "l3")).get_collection("t")
    a.set_objects(None, _df(spark, [("k", "a1", 1)]))
    b.set_objects(None, _df(spark, [("k", "b1", 2)]))  # b seeds fresh: fine
    # a's cached counter is now stale; without the generation check this
    # write would reuse b1's batch number and recency would tie-break
    a.set_objects(None, _df(spark, [("k", "a2", 3)]))
    b._invalidate_snapshots()
    assert [r["name"] for r in b.table_scan().collect()] == ["a2"]
    import pyarrow.parquet as pq
    import os as _os
    batches = set()
    for fn in _os.listdir(a.log_path):
        if fn.endswith(".parquet"):
            t = pq.read_table(_os.path.join(a.log_path, fn), columns=["_batch"])
            batches.update(t.column("_batch").to_pylist())
    assert batches == {0, 1, 2}  # strictly increasing, no collision


# ---------------------------------------------------------------------------
# history(): per-id version intervals
# ---------------------------------------------------------------------------

def test_history_versions_and_intervals(storage, spark):
    c = storage.get_collection("h")
    c.set_objects(None, _df(spark, [("a", "v1", 1)]))
    c.set_objects(None, _df(spark, [("a", "v2", 2), ("b", "w1", 9)]))
    c.delete_objects(None, ["a"])
    h = {(r["_id"], r["_version"]): r for r in c.history().collect()}
    assert len(h) == 4
    a1, a2, a3 = h[("a", 1)], h[("a", 2)], h[("a", 3)]
    assert (a1["name"], a1["_kind"], a1["is_current"]) == ("v1", "U", False)
    assert a1["_to_pos"] == a2["_from_pos"]  # half-open chain
    assert (a2["name"], a2["_to_pos"] == a3["_from_pos"]) == ("v2", True)
    assert (a3["_kind"], a3["_to_pos"], a3["is_current"]) == ("D", None, False)
    b1 = h[("b", 1)]
    assert (b1["name"], b1["is_current"]) == ("w1", True)


def test_history_hides_uncommitted_and_matches_scan(storage, spark):
    c = storage.get_collection("h2")
    c.set_objects(None, _df(spark, [("a", "base", 1)]))
    tx = uuid7()
    c.set_objects(tx, _df(spark, [("a", "pending", 2)]))  # never committed
    h = c.history().collect()
    assert len(h) == 1 and h[0]["name"] == "base"
    # current versions == table_scan snapshot
    cur = {r["_id"]: r["name"] for r in c.history().collect()
           if r["is_current"]}
    snap = {r["_id"]: r["name"] for r in c.table_scan().collect()}
    assert cur == snap


def test_history_empty_collection_has_schema(storage, spark):
    c = storage.get_collection(
        "h3", schema=T.StructType([T.StructField("name", T.StringType())]))
    h = c.history()
    assert h.count() == 0
    assert set(h.columns) == {"_id", "name", "_kind", "_version",
                              "_from_pos", "_to_pos", "is_current"}


# ---------------------------------------------------------------------------
# Append-only restore (Delta RESTORE analog)
# ---------------------------------------------------------------------------

def test_restore_to_position_recovers_snapshot(spark, tmp_path):
    from db_spark.engine import Storage, StorageConfig
    from db_spark.table import uuid7

    st = Storage(spark, str(tmp_path / "db"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, spark.createDataFrame(
        [("a", 1), ("b", 2)], "_id string, v long"))
    pos = c.log_position()
    want = sorted(map(tuple, c.table_scan().select("_id", "v").collect()))

    # churn: update a, delete b, insert c (committed tx)
    tx = uuid7()
    c.set_objects(tx, spark.createDataFrame(
        [("a", 100), ("c", 3)], "_id string, v long"))
    c.delete_where(tx, "_id = 'b'")
    c.commit(tx)
    assert sorted(r["_id"] for r in c.table_scan().collect()) == ["a", "c"]

    c.restore_to_position(pos)
    got = sorted(map(tuple, c.table_scan().select("_id", "v").collect()))
    assert got == want  # visible snapshot equals the old image
    # history intact: time travel to the churned state still works
    churned = c.scan_at_position(pos + 3)  # after tx batches + commit
    assert sorted(r["_id"] for r in churned.collect()) == ["a", "c"]


def test_restore_in_transaction_rolls_back(spark, tmp_path):
    from db_spark.engine import Storage, StorageConfig
    from db_spark.table import uuid7

    st = Storage(spark, str(tmp_path / "db"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, spark.createDataFrame(
        [("a", 1)], "_id string, v long"))
    pos = c.log_position()
    c.set_objects(None, spark.createDataFrame(
        [("a", 9), ("z", 5)], "_id string, v long"))

    tx = uuid7()
    c.restore_to_position(pos, txid=tx)
    # not committed: churned state still visible
    assert {(r["_id"], r["v"]) for r in c.table_scan().collect()} == \
        {("a", 9), ("z", 5)}
    c.rollback(tx)
    assert {(r["_id"], r["v"]) for r in c.table_scan().collect()} == \
        {("a", 9), ("z", 5)}
    tx2 = uuid7()
    c.restore_to_position(pos, txid=tx2)
    c.commit(tx2)
    assert {(r["_id"], r["v"]) for r in c.table_scan().collect()} == \
        {("a", 1)}


def test_restore_refuses_pre_compaction_position(spark, tmp_path):
    import pytest as _pytest

    from db_spark.engine import Storage, StorageConfig

    st = Storage(spark, str(tmp_path / "db"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, spark.createDataFrame(
        [("a", 1)], "_id string, v long"))
    pos = c.log_position()
    c.set_objects(None, spark.createDataFrame(
        [("a", 2)], "_id string, v long"))
    c.compact()
    with _pytest.raises(ValueError, match="compaction"):
        c.restore_to_position(pos)


def test_vacuum_bounds_time_travel_preserves_later_positions(spark, tmp_path):
    """vacuum(before_pos) collapses every whole segment below the cutoff
    into one resolved base: the live snapshot and every position at or
    above the merged range stay identical; positions below it are
    refused via the advanced compaction watermark."""
    st = Storage(spark, str(tmp_path / "vac"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]).coalesce(1))
    p1 = c.log_position()
    c.set_objects(None, _df(spark, [("a", "v2", 2)]).coalesce(1))
    p2 = c.log_position()
    c.set_objects(None, _df(spark, [("c", "v1", 3)]).coalesce(1))
    p3 = c.log_position()
    before_live = _snap(c)
    at_p3 = {(r["_id"], r["name"], r["qty"])
             for r in c.scan_at_position(p3).collect()}
    # collapse the two segments below p3 (p1 and p2 batches)
    n = c.vacuum(p3)
    assert n == 2
    assert _snap(c) == before_live
    assert {(r["_id"], r["name"], r["qty"])
            for r in c.scan_at_position(p3).collect()} == at_p3
    # history below the merged range no longer replays: the watermark
    # covers p1/p2, so position scans there are refused
    import pytest as _pytest
    with _pytest.raises(Exception):
        c.scan_at_position(p1).collect()
    # superseded version is physically gone: exactly one entry for "a"
    import pyarrow.parquet as pq
    total_a = 0
    for f in c._data_files():
        names = pq.read_table(f[0], columns=["_id"]).column("_id").to_pylist()
        total_a += sum(1 for x in names if x == "a")
    assert total_a == 1
    # nothing below the cutoff anymore: second vacuum is a no-op
    assert c.vacuum(p3) == 0
    # and the collection still takes writes afterwards
    c.set_objects(None, _df(spark, [("d", "v1", 4)]))
    assert ("d", "v1", 4) in _snap(c)


def test_vacuum_ignores_segments_at_or_above_cutoff(spark, tmp_path):
    st = Storage(spark, str(tmp_path / "vac2"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "v1", 1)]).coalesce(1))
    c.set_objects(None, _df(spark, [("a", "v2", 2)]).coalesce(1))
    p = c.log_position()
    c.set_objects(None, _df(spark, [("a", "v3", 3)]).coalesce(1))
    files_before = len(c._data_files())
    assert c.vacuum(p + 1) >= 2
    # the post-cutoff segment was not touched: v3 still wins
    assert _snap(c) == {("a", "v3", 3)}
    assert len(c._data_files()) < files_before


def test_schema_evolution_additive(spark, tmp_path):
    """evolve=True: new columns read back NULL for earlier rows, omitted
    columns NULL for the new batch, history untouched, type conflicts
    refused; strict mode still rejects the widened shape."""
    st = Storage(spark, str(tmp_path / "evo"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "v1", 1)]))
    p1 = c.log_position()
    # strict mode refuses a widened batch...
    wide = spark.createDataFrame(
        [("b", "v1", 2, "en")], "_id string, name string, qty int, lang string")
    with pytest.raises(SchemaError):
        c.set_objects(None, wide)
    # ...evolve accepts it
    c.set_objects(None, wide, evolve=True)
    snap = {(r["_id"], r["name"], r["qty"], r["lang"])
            for r in c.table_scan().collect()}
    assert snap == {("a", "v1", 1, None), ("b", "v1", 2, "en")}
    # a batch OMITTING an existing column is also fine under evolve
    narrow = spark.createDataFrame([("c", "v1")], "_id string, name string")
    c.set_objects(None, narrow, evolve=True)
    snap = {(r["_id"], r["name"], r["qty"], r["lang"])
            for r in c.table_scan().collect()}
    assert ("c", "v1", None, None) in snap
    # pre-evolution position scan still yields the original rows
    old = {(r["_id"], r["name"], r["qty"])
           for r in c.scan_at_position(p1).select("_id", "name", "qty").collect()}
    assert old == {("a", "v1", 1)}
    # same-name different-type conflicts are refused even under evolve
    bad = spark.createDataFrame([("d", 1.5)], "_id string, name double")
    with pytest.raises(SchemaError):
        c.set_objects(None, bad, evolve=True)
    # compaction normalizes every row to the full evolved shape
    c.compact()
    assert {(r["_id"], r["name"], r["qty"], r["lang"])
            for r in c.table_scan().collect()} == snap


def test_storage_maintain_orchestrates(spark, tmp_path):
    """Storage.maintain(): per-collection maybe_compact + optional
    retention vacuum in one call; snapshots preserved throughout."""
    st = Storage(spark, str(tmp_path / "maint"), StorageConfig(max_entries=64))
    a = st.get_collection("a")
    b = st.get_collection("b")
    for _ in range(3):  # churn: high redundancy in a, history in b
        a.set_objects(None, _df(spark, [("x", "v", 1), ("y", "v", 2)]).coalesce(1))
        b.set_objects(None, _df(spark, [(str(_), "v", _)]).coalesce(1))
    snap_a, snap_b = _snap(a), _snap(b)
    report = st.maintain(retain_positions=1)
    assert set(report) == {"a", "b"}
    assert _snap(a) == snap_a and _snap(b) == snap_b
    # a was fully redundant -> some compaction path fired
    assert report["a"]["compacted"] or report["a"]["vacuumed_segments"] > 0
    # empty collection: maintain is a clean no-op
    st.get_collection("c")
    report2 = st.maintain(retain_positions=1)
    assert report2["c"] == {"compacted": False, "vacuumed_segments": 0}


def test_vacuum_visibility_cases_distributed(spark, tmp_path):
    """vacuum's prefix merge resolves the same visibility matrix as a
    segment-pair merge: superseded committed versions collapse,
    rolled-back payloads vanish physically, pending transactions
    survive verbatim and still commit afterwards, and an evolved
    (wider) segment merges via mergeSchema."""
    st = Storage(spark, str(tmp_path / "vacviz"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "v1", 1), ("b", "v1", 1)]).coalesce(1))
    c.set_objects(None, _df(spark, [("a", "v2", 2)]).coalesce(1))
    t_del = uuid7()
    c.delete_objects(t_del, ["b"])
    c.commit(t_del)
    t_pend = uuid7()
    c.set_objects(t_pend, _df(spark, [("a", "v3-pending", 3)]).coalesce(1))
    t_roll = uuid7()
    c.set_objects(t_roll, _df(spark, [("d", "rolled", 9)]).coalesce(1))
    c.rollback(t_roll)
    wide = spark.createDataFrame(
        [("e", "v1", 5, "extra")], "_id string, name string, qty int, note string")
    c.set_objects(None, wide.coalesce(1), evolve=True)
    before = {(r["_id"], r["name"], r["qty"], r["note"])
              for r in c.table_scan().collect()}
    assert before == {("a", "v2", 2, None), ("e", "v1", 5, "extra")}
    assert c.vacuum(c.log_position() + 1) >= 4
    assert {(r["_id"], r["name"], r["qty"], r["note"])
            for r in c.table_scan().collect()} == before
    # rolled payload physically gone; superseded v1 of "a" gone
    import pyarrow.parquet as pq
    names = []
    for f in c._data_files():
        names += pq.read_table(f[0], columns=["name"]).column("name").to_pylist()
    assert "rolled" not in names and names.count("v1") == 1  # only e's
    # pending transaction still commits correctly after the merge
    c.commit(t_pend)
    assert {(r["_id"], r["name"], r["qty"])
            for r in c.table_scan().select("_id", "name", "qty").collect()} \
        == {("a", "v3-pending", 3), ("e", "v1", 5)}


def test_merge_keeps_entries_pending_when_marker_above_cutoff(spark, tmp_path):
    """A txn whose data entries fall below the vacuum cutoff but whose C
    marker sits ABOVE it must NOT be nil-rewritten: scan_at_position only
    honors markers within the <=p prefix, so rewriting would surface the
    rows at positions in [watermark, marker_batch) where they were
    pending-invisible before the merge. Covers the vacuum path of the
    segment merge."""
    st = Storage(spark, str(tmp_path / "strad"), StorageConfig(max_entries=64))
    c = st.get_collection("t")
    c.set_objects(None, _df(spark, [("a", "v1", 1)]).coalesce(1))   # batch 0
    t = uuid7()
    c.set_objects(t, _df(spark, [("x", "vtx", 9)]).coalesce(1))     # batch 1
    p_data = c.log_position()
    c.commit(t)                                                     # marker > 1
    p_marker = c.log_position()
    assert p_marker > p_data
    c.set_objects(None, _df(spark, [("z", "v1", 3)]).coalesce(1))
    p_now = c.log_position()

    # vacuum merges only the two data segments below the marker
    assert c.vacuum(p_data + 1) == 2
    # at the data position the txn is still pending-invisible
    at_data = {(r["_id"], r["name"], r["qty"])
               for r in c.scan_at_position(p_data).collect()}
    assert at_data == {("a", "v1", 1)}
    # at/after the marker it is visible, as before the merge
    at_marker = {(r["_id"], r["name"], r["qty"])
                 for r in c.scan_at_position(p_marker).collect()}
    assert at_marker == {("a", "v1", 1), ("x", "vtx", 9)}
    assert {(r["_id"], r["name"], r["qty"])
            for r in c.scan_at_position(p_now).collect()} \
        == {("a", "v1", 1), ("x", "vtx", 9), ("z", "v1", 3)}


@pytest.mark.full
def test_full_lifecycle_at_log_scale(spark, tmp_path):
    """Full lifecycle at realistic SEGMENT COUNTS and row volume
    (VERDICT r7 #6): ~26 log segments over ~600K lineitem-derived rows
    — 12 base appends (alternating nil / committed tx), a rolled-back
    overwrite, 6 overwrite appends, an additive evolve, vacuum at a mid
    watermark, full compaction, and position time-travel + restore
    across all of it. Toy logs can't catch watermark arithmetic that
    only bites when the merged prefix spans many segments; this can.
    Point MVCC_SCALE_DIR at a bigger sf dir (e.g. the generated sf1) to
    rerun at full scale — validated green against
    /root/repo/.bench_scale/sf1 (6M-row lineitem, 310 s) in round 8."""
    import os as _os

    from pyspark.sql import functions as F

    from db_spark.sources import read_table

    sf_dir = _os.environ.get("MVCC_SCALE_DIR", "/root/testdata/sf0.1")
    base = (
        read_table(spark, sf_dir, "lineitem")
        .select(
            F.concat_ws("-", "l_orderkey", "l_linenumber").alias("_id"),
            F.col("l_returnflag").alias("name"),
            F.col("l_quantity").cast("int").alias("qty"),
        )
        # the synthetic data does NOT keep (orderkey, linenumber)
        # unique — collapse to one deterministic version per id
        .groupBy("_id")
        .agg(F.max("name").alias("name"), F.max("qty").alias("qty"))
        .withColumn("_slice", F.pmod(F.xxhash64("_id"), F.lit(12)))
        .cache()
    )
    n_total = base.count()
    sum_v1 = base.agg(F.sum("qty")).collect()[0][0]
    n_overwritten = base.filter(F.col("_slice") < 6).count()

    st = Storage(spark, str(tmp_path / "scale"), StorageConfig())
    c = st.get_collection("t")

    # 12 base appends: alternating nil-txid and committed-transaction
    for i in range(12):
        sl = base.filter(F.col("_slice") == i).select("_id", "name", "qty")
        if i % 2:
            t = uuid7()
            c.set_objects(t, sl)
            c.commit(t)
        else:
            c.set_objects(None, sl)
    p_v1 = c.log_position()
    assert c.table_scan().count() == n_total

    # a rolled-back bulk overwrite leaves the snapshot untouched
    t_rb = uuid7()
    c.set_objects(t_rb, base.filter(F.col("_slice") == 0)
                  .select("_id", "name",
                          (F.col("qty") + 1000).cast("int").alias("qty")))
    c.rollback(t_rb)
    assert c.table_scan().agg(F.sum("qty")).collect()[0][0] == sum_v1

    # overwrite slices 0..5 with qty+1 (new versions for half the ids)
    for i in range(6):
        c.set_objects(None, base.filter(F.col("_slice") == i)
                      .select("_id", "name",
                              (F.col("qty") + 1).cast("int").alias("qty")))
    p_v2 = c.log_position()
    sum_v2 = sum_v1 + n_overwritten
    assert c.table_scan().agg(F.sum("qty")).collect()[0][0] == sum_v2

    # additive evolution on top
    wide = spark.createDataFrame(
        [("w-1", "new", 1, "en"), ("w-2", "new", 2, "de")],
        "_id string, name string, qty int, lang string")
    c.set_objects(None, wide, evolve=True)
    assert c.table_scan().count() == n_total + 2

    # position time travel reaches both pre-overwrite and pre-evolve
    assert (c.scan_at_position(p_v1).agg(F.sum("qty")).collect()[0][0]
            == sum_v1)
    assert (c.scan_at_position(p_v2).agg(F.sum("qty")).collect()[0][0]
            == sum_v2)

    # vacuum everything strictly below p_v2: the 19 pass-1/rollback/
    # pass-2 segments merge into one base; p_v1 stops replaying, p_v2
    # and the live snapshot are bit-stable
    merged = c.vacuum(p_v2)
    assert merged >= 18
    assert c.compaction_watermark() > p_v1
    with pytest.raises(ValueError):
        c.scan_at_position(p_v1)
    assert (c.scan_at_position(p_v2).agg(F.sum("qty")).collect()[0][0]
            == sum_v2)
    snap = c.table_scan()
    assert snap.count() == n_total + 2
    assert snap.filter(F.col("lang").isNotNull()).count() == 2
    assert snap.agg(F.sum("qty")).collect()[0][0] == sum_v2 + 3

    # restore to the pre-evolve snapshot ACROSS the vacuum boundary
    # (p_v2 is exactly at the post-vacuum watermark): evolved ids
    # tombstoned, qty image back to v2
    c.restore_to_position(p_v2)
    restored = c.table_scan()
    assert restored.count() == n_total
    assert restored.agg(F.sum("qty")).collect()[0][0] == sum_v2

    # full compaction last: preserves the restored snapshot exactly and
    # advances the watermark past every earlier position
    c.compact()
    after = c.table_scan()
    assert after.count() == n_total
    assert after.agg(F.sum("qty")).collect()[0][0] == sum_v2
    with pytest.raises(ValueError):
        c.scan_at_position(p_v2)
    base.unpersist()
