"""Storage — the engine/catalog entry point.

Reference: ``Storage`` is a named-collection registry owning
``DatabaseConfig`` (src/storage/mod.rs:17-33); collections live under a
root directory. Here it also registers external read-only Parquet tables
(the driver testdata) and exposes a SQL surface via temp views.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from db_spark.ops import Q
from db_spark.table import Collection, uuid7


@dataclass
class StorageConfig:
    """reference: src/storage/storage_config.rs (defaults 8192 / 10;
    deployed 65536 / 32 in storage_config.json). The LRU file-cache knob
    maps to Spark's block manager — kept for config parity only."""

    max_entries: int = 8192
    cache_file_count: int = 10
    compaction_redundancy_percentage: float = 0.5


class Storage:
    """Named-collection registry (reference: src/storage/mod.rs:17-33)."""

    def __init__(self, spark: SparkSession, root: str, config: StorageConfig | None = None):
        self.spark = spark
        self.root = root
        self.config = config or StorageConfig()
        self._collections: dict[str, Collection] = {}
        self._externals: dict[str, DataFrame] = {}
        os.makedirs(root, exist_ok=True)

    def get_collection(self, name: str, schema=None) -> Collection:
        """reference: src/storage/mod.rs:35-37 (creates on first touch).
        ``schema``: optional declared payload StructType — scans before
        the first write then return empty frames with the full shape."""
        if name not in self._collections:
            self._collections[name] = Collection(
                self.spark,
                os.path.join(self.root, name),
                name,
                max_entries=self.config.max_entries,
                compaction_redundancy=self.config.compaction_redundancy_percentage,
                schema=schema,
            )
        return self._collections[name]

    def list_collections(self) -> list[str]:
        """Registered + on-disk collections under the root."""
        on_disk = {
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        }
        return sorted(on_disk | set(self._collections))

    def drop_collection(self, name: str) -> None:
        import shutil

        c = self._collections.pop(name, None)
        if c is not None:
            c._invalidate_snapshots()
        path = os.path.join(self.root, name)
        if os.path.isdir(path):
            shutil.rmtree(path)

    # -- external (read-only) tables — the driver testdata ------------------
    def attach_parquet(self, name: str, path: str) -> DataFrame:
        df = self.spark.read.parquet(path)
        self._externals[name] = df
        df.createOrReplaceTempView(name)
        return df

    def attach_dir(self, sf_dir: str, tables: list[str] | None = None) -> None:
        names = tables or [
            os.path.splitext(f)[0]
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        ]
        for n in names:
            self.attach_parquet(n, os.path.join(sf_dir, n + ".parquet"))

    def table(self, name: str) -> Q:
        if name in self._externals:
            return Q(self._externals[name])
        return Q(self.get_collection(name).table_scan())

    def sql(self, query: str) -> Q:
        return Q(self.spark.sql(query))

    def maintain(self, retain_positions: int | None = None) -> dict:
        """One-call storage maintenance — the scheduled-job entrypoint.
        Per collection: (1) ``maybe_compact`` — the whole-log segment
        merge when the redundancy threshold is met, commit-marker
        coalescing otherwise — then (2) optional history retention —
        ``vacuum`` everything below ``log_position() - retain_positions``,
        bounding time travel to the last N log positions. Nothing here
        scans payloads beyond what the merges rewrite. Returns
        ``{collection: {"compacted": bool, "vacuumed_segments": int}}``.
        """
        report = {}
        for name in self.list_collections():
            c = self.get_collection(name)
            compacted = c.maybe_compact()
            vacuumed = 0
            if retain_positions is not None:
                cutoff = c.log_position() - retain_positions
                if cutoff > 0:
                    vacuumed = c.vacuum(cutoff)
            report[name] = {"compacted": compacted,
                            "vacuumed_segments": vacuumed}
        return report

    @contextmanager
    def transaction(self):
        """Multi-collection transaction — completes the reference's empty
        ``src/transaction/mod.rs`` roadmap item with its own snapshot
        machinery: one txid spans writes to any number of collections;
        nothing is visible to readers until the commit markers land on
        exit. An exception inside the block rolls back (an 'R' marker is
        written for audit; visibility-wise rollback is simply the absence
        of a 'C' marker, reference table_scan.rs:90-92).

        Commit markers are appended per collection in touch order — each
        collection's commit is atomic; a crash mid-sequence leaves a
        cross-collection prefix committed (the reference has no
        multi-collection story at all; single-collection semantics are
        identical to its Committed/Rollbacked markers)."""
        tx = Transaction(self)
        try:
            yield tx
            for name in tx.touched:
                self.get_collection(name).commit(tx.txid)
        except BaseException:
            for name in tx.touched:
                self.get_collection(name).rollback(tx.txid)
            raise


class Transaction:
    """Handle bound to one txid; writes stage as uncommitted log entries."""

    def __init__(self, storage: Storage):
        self.storage = storage
        self.txid = uuid7()
        self.touched: list[str] = []

    def _touch(self, name: str) -> Collection:
        if name not in self.touched:
            self.touched.append(name)
        return self.storage.get_collection(name)

    def set(self, collection: str, df: DataFrame, id_col: str = "_id") -> None:
        self._touch(collection).set_objects(self.txid, df, id_col=id_col)

    def delete(self, collection: str, ids) -> None:
        """Delete by id list or id DataFrame (stays distributed)."""
        self._touch(collection).delete_objects(self.txid, ids)

    def delete_where(self, collection: str, condition) -> None:
        """Predicate delete within the transaction — tombstones computed
        from a DataFrame plan (never a driver-side id list), evaluated
        against this transaction's read-your-own-writes snapshot."""
        c = self._touch(collection)
        ids = self.scan(collection).filter(condition).select("_id")
        c.delete_objects(self.txid, ids)

    def scan(self, collection: str) -> DataFrame:
        """Read-your-own-writes within the transaction: snapshot at this
        txid plus this transaction's own uncommitted entries."""
        c = self._touch(collection)
        snap = c._resolve(self.txid, own_txid=self.txid)
        return c.table_scan(self.txid) if snap is None else snap
