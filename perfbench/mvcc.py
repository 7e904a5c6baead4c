"""mvcc_rw: one MVCC ``Collection`` loaded from sf0.1 customer, then a
seeded mix of write transactions (Zipf-skewed upserts, predicate
deletes; each commits and calls ``maybe_compact``), latest-snapshot
reads, reads at earlier txids, CDC reads and an incremental aggregate
view refresh.

A cycle is one compaction epoch under the library's default threshold
(0.5): two upserts that do not compact, then a delete that does. Reads
at earlier txids and CDC reads use read points minted after earlier
commits of the same epoch, so they see states older than the latest.

Expected results come from a Python model of the write sequence: the
live rows after every commit. It is updated, and every expected value
computed, in the untimed hooks around each operation. Compaction
rewrites merged entries to the nil txid, which makes snapshots older
than the compaction unfaithful by design (``Collection.compact``), so
read points are dropped whenever ``maybe_compact`` fires."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from db_spark import matview, sources, table

from perfbench.common import Op, Workload

TABLES = ["customer"]

#: Rows per upsert and per delete, as shares of the table. With the
#: default compaction threshold (redundant / total log entries >= 0.5),
#: two upserts leave the log below it (<= 0.39 over 40 seeds x 12
#: epochs) and the delete that follows clears it (>= 0.55), so every
#: epoch compacts exactly once, on its delete.
BATCH_SHARE = 0.3
DELETE_SHARE = 0.2  # five disjoint custkey segments, deleted in seeded order
ZIPF_S = 1.1        # skew of the upsert key popularity
READ_POINTS = 2     # read txids minted after each commit
#: one cycle, in order. The order decides the compaction epoch, which
#: reads hit the snapshot cache (every write invalidates it) and which
#: refresh is incremental; the seed picks keys, values, delete segments
#: and read points.
MIX = ["upsert", "latest", "historical", "upsert", "cdc", "historical",
       "historical", "historical", "refresh", "delete", "refresh", "latest"]
#: warm-up: every kind once, in the cycle's write pattern and ending as
#: the cycle does (compaction, then the rebuilding refresh), so the
#: timed cycles start at an epoch boundary
WARMUP = ["upsert", "latest", "historical", "upsert", "cdc", "refresh",
          "delete", "refresh"]


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _totals(state: dict) -> tuple:
    return (len(state), sum(r[3] for r in state.values()))


class MvccRW(Workload):
    name = "mvcc_rw"
    tables = TABLES
    scale = 0.1

    def __init__(self, spark, data_dir: str, run_dir: str, rng):
        super().__init__(spark, data_dir, run_dir, rng)
        self.root = os.path.join(run_dir, "mvcc")
        self.base = pq.read_table(os.path.join(data_dir, "customer.parquet")).to_pydict()
        n = len(self.base["c_custkey"])
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.zipf_p = w / w.sum()
        self.n = n
        self.perm = rng.permutation(n)  # popularity rank -> custkey
        self.span = max(int(n * DELETE_SHARE), 1)
        self.segments = list(rng.permutation(max(n // self.span, 1)))
        self.commits = 0            # commits so far
        self.points: list[tuple] = []  # (txid, commit no., state, totals)
        self._read_since_write: set = set()  # read-point txids since the last write
        self._view_pos = -1  # log position the view reflects
        self._files_before: dict[str, int] = {}

    # -- model --------------------------------------------------------------
    def _row(self, k: int, cents: int) -> tuple:
        b = self.base
        return (k, b["c_name"][k], b["c_nationkey"][k], cents, b["c_mktsegment"][k])

    def _mint_points(self) -> None:
        """Read txids between this commit and the next transaction's."""
        self.commits += 1
        state = dict(self.live)
        totals = _totals(state)
        for _ in range(READ_POINTS):
            self.points.append((table.uuid7(), self.commits, state, totals))

    def _older_point(self, pick: float) -> tuple:
        """A read point of an earlier commit of this epoch, preferring
        one not read since the last write (so the reads between two
        writes spread over more txids than the snapshot LRU holds)."""
        older = [p for p in self.points if p[1] < self.commits] or self.points
        fresh = [p for p in older if p[0] not in self._read_since_write] or older
        point = fresh[int(pick * len(fresh))]
        self._read_since_write.add(point[0])
        return point

    def setup(self) -> None:
        """Load the collection and build the view; expected results
        follow the model as the writes run."""
        shutil.rmtree(self.root, ignore_errors=True)
        self.coll = table.Collection(self.spark, os.path.join(self.root, "coll"),
                                     "customers")
        df = (sources.read_table(self.spark, self.data_dir, "customer")
              .withColumn("_id", F.col("c_custkey").cast("string")))
        txid = table.uuid7()
        self.coll.set_objects(txid, df)
        self.coll.commit(txid)
        self.view = matview.IncrementalAggView(
            self.coll, "c_mktsegment", "c_acctbal", os.path.join(self.root, "view"))
        self._view_pos = self.view.refresh()
        b = self.base
        self.live = {k: self._row(k, int(round(a * 100)))
                     for k, a in zip(b["c_custkey"], b["c_acctbal"])}
        self._mint_points()

    def corrupt(self) -> None:
        k = next(iter(self.live))
        r = self.live[k]
        self.live[k] = r[:3] + (r[3] + 1,) + r[4:]

    # -- writes -------------------------------------------------------------
    def _write(self, kind: str, perform, apply) -> Op:
        """A write transaction: ``perform`` (timed) writes and commits,
        then ``maybe_compact`` runs; ``apply`` (untimed, afterwards)
        updates the model."""
        ctx = {}

        def before():
            self._files_before = _dir_files(self.coll.log_path)

        def build():
            perform()
            ctx["compacted"] = self.coll.maybe_compact()

        def after():
            now = _dir_files(self.coll.log_path)
            self.stats["appended_bytes"] += sum(
                s for p, s in now.items() if p not in self._files_before)
            apply()
            self._read_since_write.clear()
            if ctx.get("compacted"):
                self.stats["compactions"] += 1
                self.points = []
            self._mint_points()

        return Op(kind, "write", build, before=before, after=after)

    def _upsert(self, rng) -> Op:
        size = max(int(self.n * BATCH_SHARE), 1)
        keys = self.perm[rng.choice(self.n, size=size, replace=False, p=self.zipf_p)]
        cents = rng.integers(-99_999, 1_000_000, size)
        rows = [self._row(int(k), int(c)) for k, c in zip(keys, cents)]
        batch = pa.table({
            "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "c_name": [r[1] for r in rows],
            "c_nationkey": pa.array([r[2] for r in rows], pa.int32()),
            "c_acctbal": pa.array([r[3] / 100.0 for r in rows], pa.float64()),
            "c_mktsegment": [r[4] for r in rows],
            "_id": [str(r[0]) for r in rows]})

        def perform():
            txid = table.uuid7()
            self.coll.set_objects(txid, self.spark.createDataFrame(batch))
            self.coll.commit(txid)

        def apply():
            for r in rows:
                self.live[r[0]] = r
            self.stats["payload_bytes"] += batch.nbytes

        return self._write("upsert", perform, apply)

    def _delete(self) -> Op:
        seg = self.segments.pop(0)
        self.segments.append(seg)
        lo = int(seg) * self.span
        hi = lo + self.span - 1

        def perform():
            txid = table.uuid7()
            self.coll.delete_where(txid, F.col("c_custkey").between(lo, hi))
            self.coll.commit(txid)

        def apply():
            for k in range(lo, hi + 1):
                self.live.pop(k, None)

        return self._write("delete", perform, apply)

    # -- reads --------------------------------------------------------------
    def _scan(self, txid):
        return self.coll.table_scan(txid).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("cents"))

    def _read(self, kind: str, build, check, expect) -> Op:
        """A read of the snapshots ``expect()`` returns (txids, None for
        the latest); ``expect`` also computes the expected result, before
        the read and untimed. Afterwards the collection's snapshot LRU
        (keyed by txid, "__latest__" for the latest) tells which of
        them were hits and how many entries the read evicted."""
        cached = set()

        def before():
            cached.clear()
            cached.update(self.coll._snapshot_cache)
            keys = {t or "__latest__" for t in expect()}
            self.stats["scans"] += len(keys)
            self.stats["hits"] += len(keys & cached)

        def after():
            self.stats["snapshot_evictions"] += len(cached - set(self.coll._snapshot_cache))

        return Op(kind, "read", build, deliver=lambda df: df.collect(),
                  check=check, before=before, after=after)

    def _snapshot_read(self, kind: str, rng) -> Op:
        pick = rng.random()
        ctx = {}

        def before():
            latest = _totals(self.live)
            if kind == "latest":
                ctx["txid"], ctx["want"] = None, latest
            else:
                ctx["txid"], _commit, _state, ctx["want"] = self._older_point(pick)
                self.stats["historical_differs"] += ctx["want"] != latest
            return [ctx["txid"]]

        return self._read(kind, lambda: self._scan(ctx["txid"]),
                          lambda rows: (rows[0]["n"], rows[0]["cents"] or 0)
                          == ctx["want"], before)

    def _cdc(self, rng) -> Op:
        """Changes since a read point of an earlier commit of this epoch."""
        pick = rng.random()
        ctx = {}

        def before():
            ctx["since"], _commit, old, _ = self._older_point(pick)
            new = self.live
            want = {"I": sum(1 for k in new if k not in old),
                    "D": sum(1 for k in old if k not in new),
                    "U": sum(1 for k, r in new.items() if k in old and old[k] != r)}
            ctx["want"] = {k: v for k, v in want.items() if v}
            self.stats["cdc_nonempty"] += bool(ctx["want"])
            return [ctx["since"], None]

        return self._read(
            "cdc", lambda: self.coll.changes(ctx["since"]).groupBy("_change").count(),
            lambda rows: {r["_change"]: r["count"] for r in rows} == ctx["want"],
            before)

    def _refresh(self) -> Op:
        ctx = {}

        def before():
            groups: dict[str, list] = {}
            for r in self.live.values():
                g = groups.setdefault(r[4], [0, 0])
                g[0] += 1
                g[1] += r[3]
            ctx["want"] = {g: (n, c / 100.0) for g, (n, c) in groups.items()}
            # the refresh applies a delta unless a compaction happened
            # since the view's last refresh (IncrementalAggView.refresh)
            self.stats["refresh_incremental"] += (
                self.coll.compaction_watermark() <= self._view_pos)

        def build():
            self._view_pos = self.view.refresh()
            return self.view.read()

        return Op("refresh", "refresh", build, deliver=lambda df: df.collect(),
                  check=lambda rows: {r["c_mktsegment"]: (r["n_rows"], r["sum_value"])
                                      for r in rows} == ctx["want"], before=before)

    def _make(self, kind: str, rng) -> Op:
        if kind == "upsert":
            return self._upsert(rng)
        if kind == "delete":
            return self._delete()
        if kind == "cdc":
            return self._cdc(rng)
        if kind == "refresh":
            return self._refresh()
        return self._snapshot_read(kind, rng)

    def warmup_ops(self, rng) -> list[Op]:
        return [self._make(kind, rng) for kind in WARMUP]

    def cycle(self, rng) -> list[Op]:
        return [self._make(kind, rng) for kind in MIX]

    # -- reporting ----------------------------------------------------------
    def coverage(self) -> dict:
        """What the timed sequence exercised (read by the self-test)."""
        keys = ("compactions", "historical_differs", "cdc_nonempty",
                "refresh_incremental", "snapshot_evictions")
        return {k: self.stats[k] for k in keys}

    def end_metrics(self) -> dict:
        """space_amp: log bytes on disk / the live snapshot written once
        as compacted parquet."""
        out = os.path.join(self.root, "snapshot")
        self.coll.table_scan().coalesce(1).write.mode("overwrite").parquet(out)
        log = sum(_dir_files(self.coll.log_path).values())
        return {"space_amp": (log / sum(_dir_files(out).values()), "ratio")}

    def layer_metrics(self, n_ops: int) -> dict:
        st = self.stats
        return {
            "table.log_files": (len(_dir_files(self.coll.log_path)), "count"),
            "table.compactions": (st["compactions"], "count"),
            "table.write_amp": (st["appended_bytes"] / max(st["payload_bytes"], 1),
                                "ratio"),
            "table.snapshot_hit_ratio": (st["hits"] / max(st["scans"], 1), "ratio"),
        }
