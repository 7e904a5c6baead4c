"""Model-based MVCC test: random interleavings of writes, deletes,
commits, and rollbacks are replayed against a trivial dict model; the
resolved snapshot must match for every interleaving. Visibility model
(reference table_scan.rs:64-123): nil-txid and committed entries are
visible, uncommitted and rolled-back are not; among visible entries the
newest log position wins; tombstones suppress."""

import tempfile

from hypothesis import HealthCheck, given, settings, strategies as st_

from db_spark.engine import Storage, StorageConfig, Transaction
from db_spark.table import uuid7

IDS = st_.sampled_from(["a", "b", "c"])
KIND = st_.sampled_from(["nil", "committed", "uncommitted", "rolledback"])

OP = st_.one_of(
    st_.tuples(st_.just("set"), IDS, st_.integers(0, 99), KIND),
    st_.tuples(st_.just("del"), IDS, st_.just(0), KIND),
)


@given(ops=st_.lists(OP, min_size=1, max_size=7))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_snapshot_matches_dict_model(spark, ops):
    st = Storage(spark, tempfile.mkdtemp(), StorageConfig(max_entries=64))
    c = st.get_collection("m")
    model = {}
    for kind_op, rid, val, kind in ops:
        tx = None if kind == "nil" else uuid7()
        if kind_op == "set":
            c.set_objects(tx, spark.createDataFrame(
                [(rid, val)], "_id string, v int"))
        else:
            c.delete_objects(tx, [rid])
        if kind == "committed":
            c.commit(tx)
        elif kind == "rolledback":
            c.rollback(tx)
        if kind in ("nil", "committed"):
            if kind_op == "set":
                model[rid] = val
            else:
                model.pop(rid, None)
    got = {r["_id"]: r["v"] for r in c.table_scan().collect()}
    assert got == model
    # position snapshot at the current tip agrees with the txid snapshot
    pos_got = {r["_id"]: r["v"]
               for r in c.scan_at_position(c.log_position()).collect()}
    assert pos_got == model
    # the current versions of history() are the model
    hist = {r["_id"]: r["v"] for r in c.history().collect() if r["is_current"]}
    assert hist == model
    # an open transaction reads its own upsert on top of the model
    tx = Transaction(st)
    tx.set("m", spark.createDataFrame([("a", 100)], "_id string, v int"))
    assert {r["_id"]: r["v"] for r in tx.scan("m").collect()} \
        == {**model, "a": 100}
    c.rollback(tx.txid)
    # collapsing the whole log keeps the snapshot
    c.vacuum(c.log_position() + 1)
    assert {r["_id"]: r["v"] for r in c.table_scan().collect()} == model
    # a transaction open across a compaction still commits its write
    tx = Transaction(st)
    tx.set("m", spark.createDataFrame([("b", 200)], "_id string, v int"))
    c.compact()
    c.commit(tx.txid)
    assert {r["_id"]: r["v"] for r in c.table_scan().collect()} \
        == {**model, "b": 200}
