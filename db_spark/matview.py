"""Incrementally-maintained aggregate views over MVCC collections.

The reference's log-structured model (SURVEY §1, §3.3) makes deltas
cheap; this module is the downstream payoff: a grouped SUM/COUNT/AVG
view that refreshes from the log delta instead of recomputing the
aggregate from scratch — the standard incremental view-maintenance
shape (delta processing per Blakeley et al. 1986, "Efficiently updating
materialized views"). Deltas are tracked by LOG POSITION (immutable
prefix, `Collection.scan_at_position`) rather than txid so nil-txid
(pre-committed) writes — the streaming-ingestion pattern — are tracked
too. Compaction (`compact()` / `optimize()` / `optimize_zorder()` /
`vacuum()`) merges log files, keeping only the newest visible entry per
id — positions below the merge position no longer replay, so a delta
from a baseline there is undefined (the old-image scan would miss the
superseded versions it needs). The collection persists a
`compaction_watermark()`; `refresh()` compares its stored position
against it and falls back to a from-scratch state rebuild whenever the
baseline predates the watermark.

Scale accounting (the reason this exists at 100 TB):

- a full recompute shuffles the *entire* table on the group key every
  refresh;
- an incremental refresh shuffles only the changed rows: the CDC id set
  (delta cardinality) semi-joins the two bounding snapshots, and the
  correction aggregates are delta-sized. The snapshot scans themselves
  prune with parquet min/max on `_id` after `Collection.optimize`, and
  the *exchange* — the expensive part — is O(delta) regardless.

Determinism: sums accumulate in scaled BIGINT (same discipline as
`db_spark.functions.exact_sum`), so an incrementally-maintained state is
bit-identical to a direct aggregate over the final snapshot — associative
integer addition, no float drift. That identity is the correctness
contract (asserted in tests and by the `matview_incremental` oracle
query).

State is versioned: each refresh writes `state-{epoch}` then atomically
updates the meta pointer; the immediately-previous epoch directory is
retained (only epoch-2 is deleted), so a `read()` DataFrame obtained
before a refresh still evaluates lazily afterwards. Hold results across
more than one refresh by materializing them (collect/write).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _changed_ids(collection, last: int, now: int) -> DataFrame:
    """Ids whose visibility may differ between log positions ``last``
    and ``now``: ids with a U/D entry in the interval, plus ids of any
    transaction whose commit marker landed in the interval (those
    writes may predate ``last`` but only became visible now)."""
    log = collection.log_entries()
    interval = log.filter(
        (F.col("_batch") > last) & (F.col("_batch") <= now))
    newly_committed = (
        interval.filter(F.col("_kind") == "C")
        .select("_txid").distinct()
    )
    return (
        interval.filter(F.col("_kind").isin("U", "D")).select("_id")
        .unionByName(
            log.filter((F.col("_batch") <= F.lit(now))
                       & F.col("_kind").isin("U", "D"))
            .join(F.broadcast(newly_committed), "_txid", "left_semi")
            .select("_id"))
        .distinct()
    )


def _signed_delta(collection, last: int, now: int) -> DataFrame:
    """Signed multiset delta between two snapshots: the new image of
    every changed id with ``_sign`` +1 and the old image with −1 —
    delta cardinality, however big the collection."""
    changed = _changed_ids(collection, last, now)
    # id filter pushed BELOW the snapshot-resolution window
    # (scan_at_position(ids=...)): the _id-keyed exchange is O(delta
    # log entries), not O(table)
    new_rows = (
        collection.scan_at_position(now, ids=changed)
        .withColumn("_sign", F.lit(1))
    )
    old_rows = (
        collection.scan_at_position(last, ids=changed)
        .withColumn("_sign", F.lit(-1))
    )
    return new_rows.unionByName(old_rows)


class IncrementalAggView:
    """Grouped sum/count/avg over one value column of a Collection,
    maintained incrementally from MVCC change-data-capture."""

    def __init__(self, collection, group_col: str, value_col: str,
                 path: str, scale: int = 2):
        self.collection = collection
        self.group_col = group_col
        self.value_col = value_col
        self.path = path
        self.scale = scale  # decimal places kept exactly in the BIGINT sum
        os.makedirs(path, exist_ok=True)

    # -- state plumbing -----------------------------------------------------
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_view_meta.json")

    def _meta(self) -> dict | None:
        if not os.path.exists(self._meta_path):
            return None
        with open(self._meta_path) as fh:
            return json.load(fh)

    def _state_dir(self, epoch: int) -> str:
        return os.path.join(self.path, f"state-{epoch}")

    def _write_state(self, state: DataFrame, meta: dict) -> None:
        """Write ``state`` as epoch ``meta["epoch"]``, then point the
        meta file (``meta``: the epoch plus the log position(s) it
        reflects) at it."""
        epoch = meta["epoch"]
        state.write.mode("overwrite").parquet(self._state_dir(epoch))
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, self._meta_path)  # atomic pointer swap
        # Retain epoch-1 so DataFrames read before this refresh still
        # evaluate (lazy plans hold the old path); reap epoch-2 and any
        # older stragglers a crashed refresh may have left behind.
        for d in os.listdir(self.path):
            if d.startswith("state-") and d[6:].isdigit() and int(d[6:]) <= epoch - 2:
                shutil.rmtree(os.path.join(self.path, d))

    # -- aggregation --------------------------------------------------------
    def _contrib(self, snap: DataFrame, sign: int) -> DataFrame:
        """Signed (group, scaled-sum, count) contribution of a row set.
        Scaled-BIGINT sums keep incremental state bit-identical to a
        direct aggregate (integer addition is associative; doubles are
        not)."""
        m = 10 ** self.scale
        return snap.groupBy(F.col(self.group_col).alias("_g")).agg(
            (F.lit(sign) * F.coalesce(
                F.sum(F.round(F.col(self.value_col) * m).cast("long")),
                F.lit(0))).cast("long").alias("_ssum"),
            (F.lit(sign) * F.count(F.col(self.value_col)))
            .cast("long").alias("_cnt"),
        )

    def refresh(self) -> int:
        """Advance the view to the collection's current state. First call
        is a full build; later calls apply only the delta since the
        previous refresh: new-image contributions minus old-image
        contributions for the changed ids, merged into the stored state.
        Returns the log position the view now reflects.

        Deltas are computed from LOG POSITIONS, not txids: a log prefix
        is immutable, so ``scan_at_position`` gives a stable baseline —
        txid-based CDC would silently miss nil-txid (pre-committed)
        writes, which are visible in *every* txid snapshot including
        past ones (this is exactly how streaming ingestion writes). An
        id's visibility changes only if (a) a U/D entry for it landed in
        the interval, or (b) a commit marker for its transaction landed
        in the interval — the changed-id set is the union of both.

        Exception: compaction destroys the log prefix below the position
        it merged at (superseded versions are dropped, their files
        deleted), so when the stored position predates the collection's
        ``compaction_watermark()`` the old-image baseline is gone — the
        delta is undefined and the state is rebuilt from scratch. This
        costs one full aggregate, same as the initial build; schedule
        refreshes before compaction to keep every refresh delta-sized."""
        now_pos = self.collection.log_position()
        meta = self._meta()
        if meta is not None and meta["pos"] == now_pos:
            return now_pos  # nothing appended; state already current
        # Build on the first call. Rebuild when the log prefix at the
        # stored position no longer replays: scan_at_position(last) would
        # be empty, the old-image correction would subtract nothing, and
        # merging the full new image onto the stored state would
        # double-count.
        rebuild = (meta is None
                   or self.collection.compaction_watermark() > meta["pos"])
        if rebuild:
            state = self._contrib(
                self.collection.scan_at_position(now_pos), 1)
            state = state.filter(F.col("_cnt") > 0)
            epoch = 0 if meta is None else meta["epoch"] + 1
            self._write_state(state, {"pos": now_pos, "epoch": epoch})
            return now_pos
        last = meta["pos"]
        changed = _changed_ids(self.collection, last, now_pos)
        # id filter pushed BELOW the snapshot-resolution window: the
        # _id-keyed exchange is O(delta log entries), not O(table)
        old_rows = self.collection.scan_at_position(last, ids=changed)
        new_rows = self.collection.scan_at_position(now_pos, ids=changed)
        prev = self.collection.spark.read.parquet(
            self._state_dir(meta["epoch"]))
        state = (
            prev
            .unionByName(self._contrib(new_rows, 1))
            .unionByName(self._contrib(old_rows, -1))
            .groupBy("_g")
            .agg(F.sum("_ssum").cast("long").alias("_ssum"),
                 F.sum("_cnt").cast("long").alias("_cnt"))
            .filter(F.col("_cnt") > 0)
        )
        self._write_state(state, {"pos": now_pos, "epoch": meta["epoch"] + 1})
        return now_pos

    def read(self) -> DataFrame:
        """The maintained aggregate: (group, n_rows, sum_value,
        avg_value). Raises if the view was never refreshed."""
        meta = self._meta()
        if meta is None:
            raise RuntimeError("view has no state yet — call refresh()")
        m = float(10 ** self.scale)
        st = self.collection.spark.read.parquet(self._state_dir(meta["epoch"]))
        return st.select(
            F.col("_g").alias(self.group_col),
            F.col("_cnt").alias("n_rows"),
            (F.col("_ssum").cast("double") / m).alias("sum_value"),
            F.round(F.col("_ssum").cast("double") / m
                    / F.col("_cnt").cast("double"), 6).alias("avg_value"),
        )


class IncrementalJoinAggView:
    """Grouped SUM/COUNT over the equi-join of TWO collections,
    maintained incrementally — the two-table extension of
    :class:`IncrementalAggView` via the bilinear delta rule
    (Blakeley et al. 1986):

        Δ(A ⋈ B) = ΔA ⋈ B_new  +  A_old ⋈ ΔB

    where ΔA / ΔB are *signed* multiset deltas (new image +1, old
    image −1) and a joined row's contribution carries the product of
    its sides' signs. The identity is exact multiset algebra —
    expanding (A_old+ΔA) ⋈ (B_old+ΔB) shows the cross term ΔA ⋈ ΔB
    belongs to the first product because B_new already contains ΔB.

    Scale accounting: a full recompute joins |A| x |B| and shuffles
    both; an incremental refresh joins each delta (typically tiny —
    Spark broadcasts it) against one snapshot scan, so the *exchange*
    is O(delta), and the snapshot scans prune to the join key's file
    span after ``Collection.optimize``. Sums accumulate in scaled
    BIGINT, so the maintained state is bit-identical to a from-scratch
    aggregate over the final snapshots — the correctness contract the
    ``matview_join`` oracle asserts.

    ``group_col`` names a column of A; ``value_col`` a column of B;
    the join is ``A.key_a == B.key_b``. Compaction on either side
    destroys that side's log prefix (see module docstring) and forces
    a from-scratch rebuild, detected via ``compaction_watermark()``.
    """

    def __init__(self, coll_a, coll_b, key_a: str, key_b: str,
                 group_col: str, value_col: str, path: str,
                 scale: int = 2):
        self.a = coll_a
        self.b = coll_b
        self.key_a = key_a
        self.key_b = key_b
        self.group_col = group_col
        self.value_col = value_col
        self.path = path
        self.scale = scale
        os.makedirs(path, exist_ok=True)

    _meta_path = IncrementalAggView._meta_path
    _meta = IncrementalAggView._meta
    _state_dir = IncrementalAggView._state_dir
    _write_state = IncrementalAggView._write_state
    read = IncrementalAggView.read

    @property
    def collection(self):  # read() / state plumbing borrow this spark
        return self.a

    def _contrib(self, a_rows: DataFrame, b_rows: DataFrame) -> DataFrame:
        """Signed (group, scaled-sum, count) contribution of
        ``a_rows ⋈ b_rows``. Either side may carry a ``_sign`` column
        (defaulted to +1); a joined row contributes the sign product.
        The join key never collides with the payload because both
        sides alias into a private namespace first."""
        m = 10 ** self.scale
        sa = a_rows.select(
            F.col(self.key_a).alias("_k"),
            F.col(self.group_col).alias("_g"),
            (F.col("_sign") if "_sign" in a_rows.columns
             else F.lit(1)).alias("_sa"))
        sb = b_rows.select(
            F.col(self.key_b).alias("_k"),
            F.col(self.value_col).alias("_v"),
            (F.col("_sign") if "_sign" in b_rows.columns
             else F.lit(1)).alias("_sb"))
        joined = sa.join(sb, "_k")
        return joined.groupBy("_g").agg(
            F.coalesce(
                F.sum(F.col("_sa") * F.col("_sb")
                      * F.round(F.col("_v") * m).cast("long")),
                F.lit(0)).cast("long").alias("_ssum"),
            F.coalesce(F.sum(F.col("_sa") * F.col("_sb")),
                       F.lit(0)).cast("long").alias("_cnt"),
        )

    def refresh(self) -> tuple[int, int]:
        """Advance the view to both collections' current state; returns
        the (pos_a, pos_b) pair the view now reflects. First call —
        and any call after a compaction on either side — is a full
        build; otherwise two delta-sized joins."""
        now_a = self.a.log_position()
        now_b = self.b.log_position()
        meta = self._meta()
        rebuild = meta is None or (
            self.a.compaction_watermark() > meta["pos"]
            or self.b.compaction_watermark() > meta["pos_b"])
        if rebuild:
            state = self._contrib(self.a.scan_at_position(now_a),
                                  self.b.scan_at_position(now_b))
            state = state.filter(F.col("_cnt") != 0)
            epoch = 0 if meta is None else meta["epoch"] + 1
            self._write_state(
                state, {"pos": now_a, "pos_b": now_b, "epoch": epoch})
            return now_a, now_b
        last_a, last_b = meta["pos"], meta["pos_b"]
        if (now_a, now_b) == (last_a, last_b):
            return last_a, last_b
        delta_a = _signed_delta(self.a, last_a, now_a)
        delta_b = _signed_delta(self.b, last_b, now_b)
        prev = self.a.spark.read.parquet(self._state_dir(meta["epoch"]))
        state = (
            prev
            .unionByName(
                self._contrib(delta_a, self.b.scan_at_position(now_b)))
            .unionByName(
                self._contrib(self.a.scan_at_position(last_a), delta_b))
            .groupBy("_g")
            .agg(F.sum("_ssum").cast("long").alias("_ssum"),
                 F.sum("_cnt").cast("long").alias("_cnt"))
            .filter(F.col("_cnt") != 0)
        )
        self._write_state(
            state, {"pos": now_a, "pos_b": now_b, "epoch": meta["epoch"] + 1})
        return now_a, now_b
