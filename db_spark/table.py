"""Log-structured MVCC tables on Parquet.

Reference model (SURVEY §1, §3.3): a ``Collection`` is an ordered set of
append-only log files holding ``LogEntry`` records —
``Entity(txid, Updated(Row) | Deleted(id))`` and
``Transaction(txid, Committed | Rollbacked)`` (reference:
src/storage/log_file/log_entry.rs:7-28). A snapshot read at ``scan_txid``
keeps the newest committed version of each row id, suppressed by
tombstones, for transactions with ``txid <= scan_txid`` (UUIDv7
time-ordering; reference: src/operators/sourcing/table_scan.rs:64-123).

Spark-first realization: the log is a Parquet dataset with metadata
columns ``(_txid, _batch, _seq, _kind, _id)`` + the payload columns.
Snapshot resolution is declarative — a broadcast semi-join against the
(tiny) commit-marker set (``_visible``) and a window ``row_number() = 1``
per ``_id`` (``_newest``) — so Catalyst/AQE plan it, and the same query
works on a 1000-executor cluster. Every reader and the one log rewrite,
the segment merge (``_merge_segments``: compact, optimize, vacuum), go
through those two helpers; the merge keeps the newest visible entry per
id at its original log position (reference:
src/storage/log_file/log_compaction.rs:9-64).

UUIDv7 ordering note (SURVEY §7): canonical UUID strings are fixed-width
hex with dashes at fixed positions, so lexicographic string order equals
numeric order — ``_txid`` comparisons are plain string comparisons.
"""

from __future__ import annotations

import json
import os
import secrets
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from db_spark.functions import ascii_lower
from pyspark.sql import types as T

NIL_TXID = "00000000-0000-0000-0000-000000000000"

_META_FIELDS = [
    T.StructField("_txid", T.StringType(), False),
    T.StructField("_batch", T.LongType(), False),
    T.StructField("_seq", T.LongType(), False),
    T.StructField("_kind", T.StringType(), False),  # U | D | C | R
    T.StructField("_id", T.StringType(), True),
]
_META_NAMES = [f.name for f in _META_FIELDS]


def _merge_schema(base: T.StructType, extra: T.StructType) -> T.StructType | None:
    """Spark's ``mergeSchema`` rule for the log's flat schemas: the union
    of column names, ``base``'s columns first and new ones appended, all
    nullable (file-source reads are). ``None`` when a shared column
    changes type — only Spark's own inference can say how (or whether)
    that merges."""
    fields = {f.name: f for f in base.fields}
    for f in extra.fields:
        if f.name not in fields:
            fields[f.name] = f
        elif fields[f.name].dataType != f.dataType:
            return None
    return T.StructType([T.StructField(f.name, f.dataType, True, f.metadata)
                         for f in fields.values()])


def _batch_range(md) -> tuple[int | None, int | None]:
    """``_batch`` (min, max) of a parquet file from its footer's row-group
    statistics; (None, None) for an empty file, or when a non-empty row
    group has none."""
    lo = hi = None
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        st = next((rg.column(j).statistics for j in range(rg.num_columns)
                   if rg.column(j).path_in_schema == "_batch"), None)
        if st is None or not st.has_min_max:
            return None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def _remove_segment(path: str) -> None:
    """Delete a log file and the ``.<name>.crc`` checksum sibling Hadoop
    writes next to every Spark-written file."""
    os.remove(path)
    head, name = os.path.split(path)
    try:
        os.remove(os.path.join(head, f".{name}.crc"))
    except FileNotFoundError:
        pass


def _committed(rows: DataFrame) -> DataFrame:
    """Distinct txids with a commit marker among log ``rows`` — tiny
    relative to data, so every consumer broadcasts it."""
    return rows.filter(F.col("_kind") == "C").select("_txid").distinct()


def _visible(entries: DataFrame, committed: DataFrame,
             own_txid: str | None = None) -> DataFrame:
    """The visible U/D ``entries``: those of a ``committed`` txid
    (broadcast semi-join), the pre-committed nil txid (reference
    table_scan.rs:50-51) and ``own_txid``, a transaction reading its own
    uncommitted writes."""
    own = (F.col("_txid") == NIL_TXID if own_txid is None
           else F.col("_txid").isin(own_txid, NIL_TXID))
    return entries.join(
        F.broadcast(committed), on="_txid", how="left_semi",
    ).unionByName(entries.filter(own))


def _newest(entries: DataFrame, live: bool = True) -> DataFrame:
    """Newest entry per ``_id``. Recency among visible entries is
    physical log position (``_batch`` append order, ``_seq`` within a
    batch), matching the reference's newest-file back-to-front walk
    (table_scan.rs:66-101) — a later nil-txid write or tombstone
    supersedes an earlier committed version; txid only gates
    visibility, it does not rank versions. ``live`` resolves a snapshot:
    tombstone winners drop out (``_kind = 'U'``) with the metadata
    columns. Otherwise every winner keeps every column (a merge's
    output)."""
    w = Window.partitionBy("_id").orderBy(
        F.col("_batch").desc(), F.col("_seq").desc())
    ranked = entries.withColumn("_rn", F.row_number().over(w))
    if live:
        return (ranked.filter((F.col("_rn") == 1) & (F.col("_kind") == "U"))
                .drop("_rn", *_META_NAMES[:-1]))
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


class SchemaError(Exception):
    """Batch shape mismatch vs the collection's live schema
    (reference: src/collection/mod.rs:57)."""


class WriterLeaseError(Exception):
    """Another live writer holds this collection's write lease. The
    reference enforces one writer per collection at the type level
    (``&mut self`` on set_objects, src/collection/mod.rs:46); across
    processes we enforce it with a lease file — without it, two writers
    would seed the same ``_batch`` counter and interleave recency."""


def _leased(fn):
    """Run a Collection write/maintenance method under the writer lease."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._writer_lease():
            return fn(self, *args, **kwargs)

    return wrapper


_uuid7_lock = threading.Lock()
_uuid7_last = [0, 0]  # [ms, counter]


def uuid7() -> str:
    """Monotonic UUIDv7 (RFC 9562): 48-bit unix-ms timestamp + counter +
    random tail. The reference keys transactions by ``Uuid::now_v7()``
    (src/collection/mod.rs:115-117); monotonicity within a process gives
    deterministic snapshot ordering in tests."""
    with _uuid7_lock:
        ms = time.time_ns() // 1_000_000
        if ms <= _uuid7_last[0]:
            _uuid7_last[1] += 1
            if _uuid7_last[1] > 0xFFF:
                # Counter would wrap (and sort before its predecessor);
                # borrow the next millisecond instead — still monotonic.
                _uuid7_last[0] += 1
                _uuid7_last[1] = 0
            ms = _uuid7_last[0]
        else:
            _uuid7_last[0] = ms
            _uuid7_last[1] = 0
        counter = _uuid7_last[1]
    rand_a = counter & 0x0FFF
    rand_b = secrets.randbits(62)
    value = (
        (ms & 0xFFFFFFFFFFFF) << 80
        | 0x7 << 76
        | rand_a << 64
        | 0b10 << 62
        | rand_b
    )
    return str(uuid.UUID(int=value))


def txid_at(when) -> str:
    """Synthetic txid upper bound for time travel: the lexicographically
    largest UUIDv7 with the given wall-clock millisecond. Because UUIDv7
    string order is chronological (the reference's whole snapshot
    mechanism, table_scan.rs:72-79), ``table_scan(txid_at(t))`` sees
    exactly the transactions committed at or before ``t``.

    ``when``: datetime (naive = local time) or unix seconds float."""
    if hasattr(when, "timestamp"):
        ms = int(when.timestamp() * 1000)
    else:
        ms = int(float(when) * 1000)
    value = (
        (ms & 0xFFFFFFFFFFFF) << 80
        | 0x7 << 76
        | 0xFFF << 64
        | 0b10 << 62
        | ((1 << 62) - 1)
    )
    return str(uuid.UUID(int=value))


@dataclass
class CollectionStatistics:
    """reference: src/collection/collection_statistics.rs:4-24."""

    total_entries: int
    live_entries: int
    compaction_redundancy_percentage: float = 0.5

    @property
    def redundant_entries(self) -> int:
        return self.total_entries - self.live_entries

    @property
    def should_compact(self) -> bool:
        if self.total_entries == 0:
            return False
        return (self.redundant_entries / self.total_entries) >= self.compaction_redundancy_percentage


class Collection:
    """A named MVCC log table (reference: src/collection/mod.rs:15-21).

    Single-writer-per-collection, like the reference's ``&mut self`` on
    ``set_objects`` (src/collection/mod.rs:46) — writes from one driver
    process; reads are lock-free snapshots.
    """

    def __init__(self, spark: SparkSession, path: str, name: str,
                 max_entries: int = 8192, compaction_redundancy: float = 0.5,
                 schema: T.StructType | None = None):
        self.spark = spark
        self.name = name
        self.path = path
        # Optional declared payload schema. The reference is
        # schema-on-first-write (src/collection/mod.rs:52-59); declaring
        # one up front is a superset: scans before the first write return
        # empty frames with the right columns, and the first write is
        # shape-checked against the declaration.
        self._declared_schema = schema
        self.log_path = os.path.join(path, "log")
        self.max_entries = max_entries  # reference storage_config.rs:28-36
        self.compaction_redundancy = compaction_redundancy
        # Per-append counter; None = not yet seeded. Seeded lazily from
        # max(_batch) in the log so reopening an existing collection in a
        # new process continues append order instead of restarting it
        # (the log itself is the persisted counter — no side file).
        self._batch_counter: int | None = None
        # Snapshot-resolution LRU (SURVEY §7 candidate rule: collapse
        # repeated snapshot windows over the same collection into a
        # cached resolved view; role analog of the reference's LRU file
        # cache, src/collection/mod.rs:17,96-105). Invalidated on every
        # log mutation — a new commit marker can change visibility of
        # *older* txid snapshots, so all entries go.
        from collections import OrderedDict

        self._snapshot_cache: "OrderedDict[str, DataFrame]" = OrderedDict()
        self._snapshot_cache_capacity = 4
        # Memoized live-row count of the latest snapshot; invalidated
        # with the snapshot cache so statistics()/maybe_compact() after
        # the first call cost zero Spark jobs until the next write.
        self._live_count: int | None = None
        # Log metadata kept on the driver (reference: per-log-file
        # statistics, collection_statistics.rs:4-24). The log schema is
        # keyed by the set of log file names it was derived from; any
        # file this instance did not write changes the set and forces
        # one re-inference. Footers — (num_rows, _batch min, _batch max,
        # column names) — are keyed by file name: log files are
        # immutable, a rewrite always lands under a fresh name.
        self._schema_cache: tuple[frozenset[str], T.StructType] | None = None
        self._footer_cache: dict[str, tuple] = {}
        # Writer lease (multi-process single-writer enforcement): each
        # instance has a unique token; a lock file serializes write ops
        # and a generation file records the last holder so a writer that
        # lost the lease in between re-seeds its _batch counter.
        self._lease_token = uuid.uuid4().hex
        self._lease_held = 0
        self.lease_timeout = 2.0   # s to wait for a live holder
        self.lease_ttl = 600.0     # s before a holder is presumed crashed
        os.makedirs(self.path, exist_ok=True)

    # -- schema -------------------------------------------------------------
    def _log_files(self) -> list[str]:
        """Names of the log's parquet files. Hidden names (``.``/``_``
        prefix) are skipped exactly as Spark's file listing skips them:
        in-flight marker temp files and ``.crc`` siblings never count."""
        try:
            names = os.listdir(self.log_path)
        except FileNotFoundError:
            return []
        return sorted(n for n in names
                      if n.endswith(".parquet") and n[0] not in "._")

    def _log_exists(self) -> bool:
        return bool(self._log_files())

    def _log_schema(self) -> T.StructType | None:
        """The log's merged schema, None before the first write.

        Log files legitimately differ in shape — commit markers carry
        only the metadata columns, a tombstone written before the first
        upsert has no payload columns (tombstones match any shape,
        reference log_entry.rs:126-141), evolved batches add columns. The
        union of the per-file schemas is inferred with ``mergeSchema``
        (a Spark job) only when the log holds a file this instance did
        not write; its own appends fold their schema in on the driver
        (``_note_own_write``)."""
        files = frozenset(self._log_files())
        if not files:
            return None
        if self._schema_cache is None or self._schema_cache[0] != files:
            inferred = (self.spark.read.option("mergeSchema", "true")
                        .parquet(self.log_path).schema)
            self._schema_cache = (files, inferred)
        return self._schema_cache[1]

    def _note_own_write(self, before: frozenset[str],
                        schema: T.StructType) -> None:
        """Fold an append of ``schema``-shaped files into the schema
        cache without re-inferring. ``before`` is the file set listed
        just before the write (under the writer lease, so every new name
        is this write's). A cache that was already stale stays stale —
        the next read re-infers."""
        after = frozenset(self._log_files())
        if after == before:
            return  # nothing landed: the schema is unchanged
        if not before:
            base = T.StructType([])
        elif self._schema_cache is not None and self._schema_cache[0] == before:
            base = self._schema_cache[1]
        else:
            return
        merged = _merge_schema(base, schema)
        self._schema_cache = None if merged is None else (after, merged)

    def _read_log(self) -> DataFrame | None:
        """The whole log as one DataFrame, columns resolved by name over
        the cached merged schema (missing columns read as NULL); None
        before the first write. Zero Spark jobs while the cache holds."""
        schema = self._log_schema()
        if schema is None:
            return None
        return self.spark.read.schema(schema).parquet(self.log_path)

    def _footers(self) -> dict[str, tuple]:
        """``name -> (num_rows, _batch min, _batch max, column names)``
        for every log file, from parquet footers (driver-side metadata
        reads, zero Spark jobs; each file's footer is read once per
        instance). min/max are None for an empty file, or when its
        writer kept no ``_batch`` statistics."""
        import pyarrow.parquet as pq

        footers = {}
        for name in self._log_files():
            hit = self._footer_cache.get(name)
            if hit is None:
                md = pq.read_metadata(os.path.join(self.log_path, name))
                hit = (md.num_rows, *_batch_range(md),
                       tuple(md.schema.to_arrow_schema().names))
            footers[name] = hit
        self._footer_cache = footers  # drops files that left the log
        return footers

    def payload_schema(self) -> T.StructType | None:
        schema = self._log_schema()
        if schema is None:
            return self._declared_schema
        return T.StructType([f for f in schema.fields if f.name not in _META_NAMES])

    def _check_shape(self, incoming: T.StructType, evolve: bool = False) -> None:
        """Default: exact positional type-sequence equality (reference:
        src/collection/mod.rs:52-59; shape rules log_entry.rs:126-141).
        Tombstone-only batches skip the check (tombstones match anything).

        ``evolve=True`` relaxes to NAME-based compatibility — the batch
        may add brand-new columns (earlier rows read them back as NULL
        via the merged-schema log read) and omit existing ones (written
        as absent, read back as NULL), but a column present in both
        must keep its type. This is additive-only schema evolution à la
        Delta/Iceberg: no rewrite of history, old snapshots unchanged,
        type conflicts still refused loudly."""
        existing = self.payload_schema()
        if existing is None or len(existing.fields) == 0:
            return
        if evolve:
            ex = {f.name: f.dataType for f in existing.fields}
            for f in incoming.fields:
                if f.name in ex and f.dataType != ex[f.name]:
                    raise SchemaError(
                        f"collection '{self.name}': evolved batch changes "
                        f"type of column '{f.name}' from {ex[f.name]} to "
                        f"{f.dataType} (additive evolution only)"
                    )
            return
        got = [f.dataType for f in incoming.fields]
        want = [f.dataType for f in existing.fields]
        if got != want:
            raise SchemaError(
                f"collection '{self.name}': batch shape {got} != collection shape {want}"
            )

    # -- write path (reference: src/collection/mod.rs:46-93) ----------------
    @property
    def _lock_path(self) -> str:
        return os.path.join(self.path, "_writer.lock")

    @property
    def _gen_path(self) -> str:
        return os.path.join(self.path, "_writer.gen")

    def _writer_lease(self):
        """Context manager serializing write/maintenance ops across
        processes (reference enforces one writer per collection via
        ``&mut self``, src/collection/mod.rs:46; here a create-exclusive
        lock file with pid+timestamp does it across process boundaries).

        - A live holder (recent lease, pid alive on this host) makes a
          second writer raise ``WriterLeaseError`` after
          ``lease_timeout`` — a clean error instead of interleaved
          ``_batch`` values.
        - A crashed holder (lease older than ``lease_ttl``, or its pid
          gone) is taken over; the remove+retry race is benign — one
          contender wins the create-exclusive, the rest queue or err.
        - Sequential handoff is CORRECT, not an error: the generation
          file records the last holder's token, and a writer acquiring
          after some other writer re-seeds its cached ``_batch`` counter
          from the log, so append order continues instead of colliding.
        """
        from contextlib import contextmanager

        @contextmanager
        def lease():
            if self._lease_held:  # reentrant within the instance
                self._lease_held += 1
                try:
                    yield
                finally:
                    self._lease_held -= 1
                return
            deadline = time.time() + self.lease_timeout
            while True:
                try:
                    fd = os.open(self._lock_path,
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    with os.fdopen(fd, "w") as fh:
                        json.dump({"pid": os.getpid(),
                                   "token": self._lease_token,
                                   "ts": time.time()}, fh)
                    break
                except FileExistsError:
                    holder = None
                    try:
                        with open(self._lock_path) as fh:
                            holder = json.load(fh)
                    except Exception:  # noqa: BLE001 - mid-write/corrupt
                        pass
                    stale = (holder is None
                             or time.time() - holder.get("ts", 0) > self.lease_ttl)
                    if not stale and holder.get("pid") is not None:
                        try:
                            os.kill(int(holder["pid"]), 0)
                        except (ProcessLookupError, OverflowError, ValueError):
                            stale = True  # holder process is gone
                        except PermissionError:
                            pass  # alive, owned by another user
                    if stale:
                        try:
                            os.remove(self._lock_path)
                        except FileNotFoundError:
                            pass
                        continue
                    if time.time() > deadline:
                        raise WriterLeaseError(
                            f"collection '{self.name}': writer lease held by "
                            f"pid {holder.get('pid')} since {holder.get('ts')}"
                            " — one writer per collection") from None
                    time.sleep(0.05)
            try:
                with open(self._gen_path) as fh:
                    last = fh.read().strip()
            except FileNotFoundError:
                last = None
            if last != self._lease_token:
                # Another writer appended since we last held the lease:
                # our cached counter (and snapshots) are stale.
                self._batch_counter = None
                self._invalidate_snapshots()
            tmp = self._gen_path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(self._lease_token)
            os.replace(tmp, self._gen_path)
            self._lease_held = 1
            try:
                yield
            finally:
                self._lease_held = 0
                try:
                    os.remove(self._lock_path)
                except FileNotFoundError:
                    pass

        return lease()

    def _next_batch(self) -> int:
        """Strictly-increasing append counter. Cross-batch recency order
        is ``(_batch, _seq)`` — ``_batch`` is append order (the reference
        resolves recency by log position, table_scan.rs:66-101, not by
        txid) and ``_seq`` (monotonically_increasing_id) disambiguates
        within a batch only, so it may use its full 64-bit range at any
        partition count. First write in a process seeds the counter from
        ``log_position()`` (parquet footers), so reopening a collection
        continues — never restarts — the order; +1 per append cannot
        overflow int64."""
        if self._batch_counter is None:
            self._batch_counter = self.log_position()
        self._batch_counter += 1
        return self._batch_counter

    def _append(self, df: DataFrame) -> None:
        before = frozenset(self._log_files())
        (
            df.write.mode("append")
            .option("maxRecordsPerFile", self.max_entries)  # log rotation
            .parquet(self.log_path)
        )
        self._note_own_write(before, df.schema)
        self._invalidate_snapshots()

    def _invalidate_snapshots(self) -> None:
        for df in self._snapshot_cache.values():
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 - session may be gone
                pass
        self._snapshot_cache.clear()
        self._live_count = None

    @_leased
    def set_objects(self, txid: str | None, df: DataFrame, id_col: str = "_id",
                    evolve: bool = False) -> None:
        """Batch upsert. ``df`` carries payload columns plus optionally an
        ``id_col`` with row UUIDs (auto-generated when absent — every row
        has an implicit UUID primary key, reference log_entry.rs:19-22).

        ``evolve=True`` permits additive schema evolution: the batch may
        carry new columns (NULL for all earlier rows) or omit existing
        ones (NULL for this batch's rows) — see ``_check_shape``. The
        log read merges per-file schemas, so no history rewrite happens
        and every prior snapshot/position scan is untouched."""
        txid = txid or NIL_TXID
        if id_col in df.columns:
            src = df if id_col == "_id" else df.withColumnRenamed(id_col, "_id")
            src = src.withColumn("_id", F.col("_id").cast("string"))
        else:
            src = df.withColumn("_id", F.expr("uuid()"))
        payload_cols = [c for c in src.columns if c != "_id"]
        self._check_shape(
            T.StructType([src.schema[c] for c in payload_cols]), evolve=evolve)
        batch = self._next_batch()
        entry = (
            src.withColumn("_txid", F.lit(txid))
            .withColumn("_batch", F.lit(batch).cast("long"))
            .withColumn("_seq", F.monotonically_increasing_id())
            .withColumn("_kind", F.lit("U"))
            .select(*_META_NAMES, *payload_cols)
        )
        self._append(entry)

    def delete_objects(self, txid: str | None, ids) -> None:
        """Tombstones (reference: empty-fields row => delete,
        src/collection/mod.rs:46-93; Entity::Deleted log_entry.rs:7-28).

        ``ids``: a DataFrame whose first (or ``_id``) column is the id set
        — stays fully distributed — or a driver-side list for small
        explicit deletes."""
        if isinstance(ids, DataFrame):
            id_df = ids
        else:
            id_df = self.spark.createDataFrame(
                [(str(r),) for r in ids], T.StructType([_META_FIELDS[-1]]))
        self._write_tombstones(txid, id_df)

    def delete_where(self, txid: str | None, condition) -> None:
        """Predicate delete: tombstone every currently-visible row
        matching ``condition`` (Column or SQL string). The id set never
        passes through the driver — at 100 TB, deleting 1% of rows is a
        distributed filter + append, not a Python list."""
        snap = self.table_scan()
        self._write_tombstones(txid, snap.filter(condition).select("_id"))

    @_leased
    def _write_tombstones(self, txid: str | None, id_df: DataFrame) -> None:
        txid = txid or NIL_TXID
        batch = self._next_batch()
        payload = self.payload_schema() or T.StructType([])
        id_col = "_id" if "_id" in id_df.columns else id_df.columns[0]
        entry = id_df.select(
            F.lit(txid).alias("_txid"),
            F.lit(batch).cast("long").alias("_batch"),
            F.monotonically_increasing_id().alias("_seq"),
            F.lit("D").alias("_kind"),
            F.col(id_col).cast("string").alias("_id"),
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in payload.fields],
        )
        self._append(entry)

    @_leased
    def _marker(self, txid: str, kind: str) -> None:
        """Append a 1-row C/R marker: the five metadata columns only
        (reads resolve columns by name, so payload columns read as NULL),
        written with pyarrow on the driver — no Spark job. The file lands
        under a hidden temp name and is renamed into the log, so no
        reader ever lists a partial file. Each marker is its own tiny
        parquet file — at a high transaction rate the log degrades into
        small-file soup between compactions; ``coalesce_markers()`` (or
        any ``compact()``) folds them back. ``maybe_compact()`` runs the
        fold automatically past a file-count threshold."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        batch = self._next_batch()
        before = frozenset(self._log_files())
        os.makedirs(self.log_path, exist_ok=True)
        name = f"marker-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.log_path, f".{name}.tmp")
        schema = pa.schema([  # mirrors _META_FIELDS
            pa.field("_txid", pa.string(), False),
            pa.field("_batch", pa.int64(), False),
            pa.field("_seq", pa.int64(), False),
            pa.field("_kind", pa.string(), False),
            pa.field("_id", pa.string(), True),
        ])
        pq.write_table(
            pa.table({"_txid": [txid], "_batch": [batch], "_seq": [0],
                      "_kind": [kind], "_id": [None]}, schema=schema),
            tmp)
        os.replace(tmp, os.path.join(self.log_path, name))
        self._note_own_write(before, T.StructType(_META_FIELDS))
        self._invalidate_snapshots()

    def commit(self, txid: str) -> None:
        """Transaction::Committed marker (reference log_entry.rs:39-45)."""
        self._marker(txid, "C")

    def rollback(self, txid: str) -> None:
        """Rollback = the Committed marker is simply never honored
        (reference table_scan.rs:90-92 ignores Rollbacked); we log the
        marker for observability."""
        self._marker(txid, "R")

    # -- read path (reference: table_scan.rs:64-123) ------------------------
    def table_scan(self, txid: str | None = None) -> DataFrame:
        """MVCC snapshot at ``txid`` (default: now). Declarative plan:

        1. ``committed`` = distinct txids with a 'C' marker (plus the nil
           txid, pre-committed — reference table_scan.rs:50-51). This set
           is tiny relative to data and broadcast-joined.
        2. keep U/D entries with ``_txid <= scan_txid`` and committed;
        3. newest version per ``_id`` wins: ``row_number() OVER
           (PARTITION BY _id ORDER BY _batch DESC, _seq DESC) = 1``;
        4. tombstones drop out (``_kind = 'U'``).

        Repeated scans at the same txid (or repeated latest-scans with no
        intervening write) return one shared, Spark-persisted resolved
        view from the snapshot LRU — downstream queries over the same
        snapshot skip the window-dedup entirely.
        """
        cache_key = txid or "__latest__"
        hit = self._snapshot_cache.get(cache_key)
        if hit is not None:
            self._snapshot_cache.move_to_end(cache_key)
            return hit
        latest = self._resolve(txid or uuid7())
        if latest is None:
            return self._empty_frame()
        latest = latest.cache()
        self._snapshot_cache[cache_key] = latest
        while len(self._snapshot_cache) > self._snapshot_cache_capacity:
            _, evicted = self._snapshot_cache.popitem(last=False)
            evicted.unpersist()
        return latest

    def _resolve(self, scan_txid: str,
                 own_txid: str | None = None) -> DataFrame | None:
        """The uncached snapshot at ``scan_txid`` (``table_scan``'s
        plan), with ``own_txid``'s uncommitted entries visible too
        (``Transaction.scan``); None before the first write."""
        log = self._read_log()
        if log is None:
            return None
        entries = log.filter(F.col("_kind").isin("U", "D")
                             & (F.col("_txid") <= F.lit(scan_txid)))
        return _newest(_visible(entries, _committed(log), own_txid))

    def _empty_frame(self, extra: tuple[T.StructField, ...] = ()) -> DataFrame:
        """What a read of a never-written collection returns: an empty
        frame that still carries the snapshot's ``_id`` + payload schema
        (then ``extra``), so downstream filters/projections on payload
        columns resolve instead of throwing. Payload comes from the
        declared schema when one exists; otherwise it is genuinely
        unknown and only ``_id`` is returned."""
        payload = self._declared_schema or T.StructType([])
        return self.spark.createDataFrame([], T.StructType(
            [_META_FIELDS[-1]]
            + [T.StructField(f.name, f.dataType, True) for f in payload.fields]
            + list(extra)))

    def log_entries(self) -> DataFrame | None:
        """Raw log (meta + payload columns) for observability and
        incremental consumers (matview refresh); None before the first
        write."""
        return self._read_log()

    def log_position(self) -> int:
        """Current log position = max(_batch), -1 when empty; the position
        is the total order the reference's newest-file-first walk
        implies. Read from the parquet footers' ``_batch`` statistics —
        zero Spark jobs. A non-empty file without them (a writer that
        skipped statistics) falls back to a column-pruned Spark agg.

        Never below the compaction watermark: a merge drops markers and
        tombstones, which can leave the newest surviving entry below the
        position the log had reached, and that position stays the log's
        (its snapshot still replays; the next append continues after
        it)."""
        footers = self._footers().values()
        if any(n and hi is None for n, _lo, hi, _cols in footers):
            row = self._read_log().agg(F.max("_batch").alias("m")).collect()[0]
            top = -1 if row["m"] is None else int(row["m"])
        else:
            top = max((hi for n, _lo, hi, _cols in footers if n), default=-1)
        return max(top, self.compaction_watermark())

    def scan_at_position(self, batch: int,
                         ids: DataFrame | None = None) -> DataFrame:
        """Snapshot as of a log *position* (``_batch`` value): resolve
        only entries appended at or before it, honoring commit markers
        within that prefix. Unlike txid time travel, position snapshots
        are stable under later nil-txid (pre-committed) writes — a nil
        write appended after ``batch`` is invisible here, while
        ``table_scan(txid)`` would show it (nil <= every txid). This is
        the baseline incremental consumers (matview refresh) need: the
        log prefix is immutable, so the same position always yields the
        same rows.

        ``ids`` (a DataFrame with an ``_id`` column) restricts the
        snapshot to those ids *below the resolution window*: version
        resolution partitions by ``_id``, so filtering ids first is
        semantics-preserving while cutting the ``_id``-keyed exchange
        from O(table) to O(log entries of those ids) — the difference
        between a delta-sized and a table-sized matview refresh.

        Positions below the compaction watermark no longer replay
        (compact/optimize/vacuum destroyed that prefix) — they raise
        ``ValueError`` instead of silently returning a partial
        snapshot."""
        wm = self.compaction_watermark()
        if batch < wm:
            raise ValueError(
                f"position {batch} predates the compaction watermark "
                f"{wm}: that log prefix no longer replays (rebuild "
                f"incremental consumers from a current snapshot)")
        log = self._read_log()
        if log is None:
            return self._empty_frame()
        prefix = log.filter(F.col("_batch") <= F.lit(batch))
        entries = prefix.filter(F.col("_kind").isin("U", "D"))
        if ids is not None:
            entries = entries.join(
                F.broadcast(ids.select("_id")), "_id", "left_semi")
        return _newest(_visible(entries, _committed(prefix)))

    def scan_at(self, when) -> DataFrame:
        """Time travel: snapshot as of a wall-clock instant (datetime or
        unix seconds). Pre-committed nil-txid writes are visible in every
        snapshot regardless of ``when`` (reference table_scan.rs:50-51)."""
        return self.table_scan(txid_at(when))

    def restore_to_position(self, pos: int, txid: str | None = None) -> None:
        """Append-only restore of an earlier snapshot (the Delta Lake
        RESTORE analog, MVCC-native): after this call the visible
        snapshot equals ``scan_at_position(pos)`` — the old image of
        every id visible then is re-upserted, and ids created since are
        tombstoned. Nothing is deleted from the log: history stays
        intact, time travel ACROSS the restore still works, and the
        restore itself is one more auditable entry (give it a ``txid``
        to make it atomic with other work / abortable).

        Cost is O(snapshot-at-pos) + O(ids-created-since) appended —
        never a rewrite. Raises if ``pos`` predates the compaction
        watermark (the prefix needed to reconstruct the old image no
        longer replays)."""
        if self.compaction_watermark() > pos:
            raise ValueError(
                f"cannot restore to position {pos}: compaction (watermark "
                f"{self.compaction_watermark()}) destroyed the log prefix "
                "that position needs")
        now = self.log_position()
        old = self.scan_at_position(pos)
        new_ids = (
            self.scan_at_position(now).select("_id")
            .subtract(old.select("_id"))
        )
        self.set_objects(txid, old)
        self.delete_objects(txid, new_ids)

    def history(self) -> DataFrame:
        """Per-id version history: every committed-visible U/D entry as
        a versioned record with a log-position validity interval —
        ``_id``, payload columns, ``_kind`` ('U' update / 'D' delete),
        ``_version`` (1-based per id, append order), ``_from_pos`` (the
        entry's ``_batch``), ``_to_pos`` (the next version's ``_batch``;
        NULL while in force), ``is_current`` (last version and not a
        tombstone). The SCD Type-2 view of the log
        (``db_spark.analytics.scd2`` derives the same interval form
        from any event stream; this is its MVCC-native dual), and the
        before-image source ``changes()`` points at.

        Shape: the same committed-visibility semi-join as
        ``table_scan`` (reference table_scan.rs:50-101), then ONE
        ``_id``-keyed sort carrying the version rank, the ``_to_pos``
        lead, and the is_current flag — no self-joins, O(log entries),
        shuffle count independent of version counts."""
        log = self._read_log()
        if log is None:
            return self._empty_frame((
                T.StructField("_kind", T.StringType(), True),
                T.StructField("_version", T.IntegerType(), True),
                T.StructField("_from_pos", T.LongType(), True),
                T.StructField("_to_pos", T.LongType(), True),
                T.StructField("is_current", T.BooleanType(), True)))
        visible = _visible(log.filter(F.col("_kind").isin("U", "D")),
                           _committed(log))
        w = Window.partitionBy("_id").orderBy("_batch", "_seq")
        payload_cols = [c for c in visible.columns
                        if c not in ("_txid", "_batch", "_seq", "_kind", "_id")]
        return (
            visible
            .withColumn("_version", F.row_number().over(w))
            .withColumn("_to_pos", F.lead("_batch").over(w))
            .withColumn(
                "is_current",
                F.col("_to_pos").isNull() & (F.col("_kind") == "U"))
            .select("_id", *payload_cols, "_kind", "_version",
                    F.col("_batch").alias("_from_pos"), "_to_pos",
                    "is_current")
        )

    def changes(self, since_txid: str, until_txid: str | None = None) -> DataFrame:
        """Change-data-capture between two snapshots: one row per ``_id``
        whose visible version differs, tagged ``_change`` in
        ``I``(nsert) | ``U``(pdate) | ``D``(elete), carrying the *new*
        payload (old payload for deletes is gone from the snapshot by
        definition; read the log directly for before-images).

        Implementation: full outer join of the two resolved snapshots on
        ``_id`` with a single struct comparison — O(live rows), one
        shuffle, independent of log length. This is what the
        log-structured model buys downstream consumers: incremental
        pipelines read the delta, not the table."""
        old = self.table_scan(since_txid)
        new = self.table_scan(until_txid)
        payload = [c for c in new.columns if c != "_id"]
        o = old.select(
            F.col("_id"), F.struct(*payload).alias("_old"))
        n = new.select(
            F.col("_id"), F.struct(*payload).alias("_new"))
        joined = o.join(n, "_id", "full_outer")
        return (
            joined.withColumn(
                "_change",
                F.when(F.col("_old").isNull(), F.lit("I"))
                .when(F.col("_new").isNull(), F.lit("D"))
                .when(F.col("_old") != F.col("_new"), F.lit("U")),
            )
            .filter(F.col("_change").isNotNull())
            .select("_id", "_change", *[
                F.col("_new").getField(c).alias(c) for c in payload])
        )

    # -- maintenance --------------------------------------------------------
    @property
    def _compaction_meta_path(self) -> str:
        return os.path.join(self.path, "_compaction.json")

    def compaction_watermark(self) -> int:
        """Lowest log position ``p`` such that ``scan_at_position(q)`` is
        still faithful for every ``q >= p``. A segment merge drops the
        superseded versions of the files it merged, so positions below
        the merged range's max ``_batch`` no longer replay — position
        snapshots taken there are partial. Incremental consumers
        (matview refresh) compare their stored position against this
        watermark and fall back to a full rebuild when their baseline
        predates it. ``-1`` = never compacted, every position is valid."""
        if not os.path.exists(self._compaction_meta_path):
            return -1
        with open(self._compaction_meta_path) as fh:
            return int(json.load(fh).get("safe_pos", -1))

    def _record_compaction(self, safe_pos: int) -> None:
        """Persist (atomically, monotonically) that positions below
        ``safe_pos`` are no longer replayable."""
        prev = self.compaction_watermark()
        tmp = self._compaction_meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"safe_pos": max(prev, safe_pos)}, fh)
        os.replace(tmp, self._compaction_meta_path)

    def statistics(self) -> CollectionStatistics:
        """Log statistics (reference collection_statistics.rs:4-24).

        ``total_entries`` sums the footer row counts of the footer cache
        — pure metadata, zero Spark jobs, one footer read per new log
        file (the same quantity the reference tracks incrementally per
        log file). ``live_entries`` counts the resolved snapshot, which
        is served from the snapshot LRU and memoized until the next log
        mutation — the first ``statistics()`` after a write counts the
        (persisted) snapshot once; every later call costs zero Spark
        jobs. The maintenance path never triggers a second full log
        scan."""
        footers = self._footers()
        if not footers:
            return CollectionStatistics(0, 0, self.compaction_redundancy)
        total = sum(n for n, _lo, _hi, _cols in footers.values())
        if self._live_count is None:
            self._live_count = self.table_scan().count()
        return CollectionStatistics(total, self._live_count, self.compaction_redundancy)

    @_leased
    def compact(self) -> None:
        """Merge the whole log keeping only the newest visible version per
        id (reference: src/storage/log_file/log_compaction.rs:9-64): the
        segment merge over every log file, at ``log_position()``. Commit
        markers, rollback markers, rolled-back entries and tombstones go;
        committed winners stay at their original ``_batch``/``_seq`` as
        nil-txid entries, and pending-transaction entries stay verbatim,
        so a transaction that commits afterwards still resolves against
        them by log position. Same visible snapshot; positions below the
        current one stop replaying."""
        self._merge_log()

    def _merge_log(self, arrange=None) -> None:
        """``_merge_segments`` over every log file at ``log_position()``
        — ``compact``, and ``optimize``/``optimize_zorder`` with their
        ``arrange``; a no-op before the first write."""
        names = self._log_files()
        if names:
            self._merge_segments(
                [os.path.join(self.log_path, n) for n in names],
                self.log_position(), arrange)

    def _data_files(self) -> list[tuple[str, int, int]]:
        """``(path, min_batch, max_batch)`` of every data segment (a log
        file holding U/D entries), in append order. The order comes from
        the footer cache's ``_batch`` minima (ties by file name); each
        file's ``_kind`` column alone is read to tell data from
        marker-only files (parquet column pruning, never the payload)."""
        import pyarrow.parquet as pq

        order = []
        for name, (n, lo, hi, cols) in self._footers().items():
            if not n or not {"_id", "_batch", "_kind"} <= set(cols):
                continue  # empty stub or foreign file
            p = os.path.join(self.log_path, name)
            if lo is None:  # writer kept no statistics: read the column
                b = pq.read_table(p, columns=["_batch"]).column(0).to_pylist()
                lo, hi = min(b), max(b)
            kinds = pq.read_table(p, columns=["_kind"]).column(0).unique()
            if {"U", "D"} & set(kinds.to_pylist()):
                order.append((lo, name, hi, p))
        return [(p, lo, hi) for lo, _name, hi, p in sorted(order)]

    @_leased
    def vacuum(self, before_pos: int) -> int:
        """Bounded time travel: collapse all history strictly below a
        retention position. Every data segment whose entries are ALL
        below ``before_pos`` (``max _batch < before_pos``) is merged —
        in one pass — into a resolved base via the same
        newest-visible-wins segment merge as :meth:`compact`, keeping
        original ``_batch``/``_seq`` values. Segments at or above the
        cutoff (and any segment straddling it) are untouched, so
        ``table_scan()`` and ``scan_at_position(p)`` for every ``p``
        at or above the merged range stay bit-identical; positions
        below it stop replaying (the compaction watermark advances, so
        ``restore_to_position``/``scan_at_position`` refuse them
        cleanly and position-based incremental consumers rebuild).

        This is the Delta-VACUUM analog for the MVCC log: retention is
        expressed as a log position (pair with ``txid_at``/
        ``log_position`` to derive one from wall-clock age). At 100 TB
        the whole-prefix merge is one bounded rewrite of cold
        segments — newer hot segments are never read. Returns the
        number of segments merged (0 = nothing to do)."""
        files = [f for f in self._data_files() if f[2] < before_pos]
        if len(files) < 2:
            return 0
        self._merge_segments(
            [f[0] for f in files], max(f[2] for f in files))
        return len(files)

    def _merge_segments(self, paths: list[str], max_batch: int,
                        arrange=None) -> list[str]:
        """The one log rewrite: ``vacuum`` merges a cold prefix, and
        ``compact``/``optimize``/``optimize_zorder`` the whole log.
        Resolved entirely in Spark: one window over ``_id`` partitions of
        the merged files, never a driver-side row list.

        - markers (C/R) kept verbatim (they gate other segments);
        - rolled-back entries dropped;
        - committed / nil entries: newest per id wins at its ORIGINAL
          ``_batch``/``_seq``, rewritten to the nil txid;
        - pending-transaction entries kept verbatim (may yet commit).

        When ``paths`` are every file of the log, no other segment is
        left to gate: markers go (every txid they name is decided —
        committed entries are nil now, rolled-back ones gone), and so do
        tombstone winners, except where a kept pending entry of the same
        id could still commit under them.

        ``arrange`` lays the merged rows out before the write (a sort, a
        range partition); columns it adds are not written.

        A txid counts as decided-committed ONLY if its (earliest) C
        marker sits at or below the merged range's ``max_batch`` —
        ``scan_at_position(p)`` honors only markers within the ≤p
        prefix, so rewriting an entry to the nil txid when its C marker
        lies ABOVE the cutoff would make it visible at positions in
        ``[watermark, marker_batch)`` where it was pending-invisible
        before the merge. Such entries stay in the pending branch
        verbatim; the still-live marker above the cutoff keeps gating
        them. (R-marked entries are invisible at every position, so
        dropping them is safe wherever the marker sits.)

        Crash-safe ordering: merged part files land in the log dir
        under fresh names BEFORE the originals are removed — a crash in
        between leaves duplicate identical-payload entries, which
        recency resolution tolerates. Returns the merged file paths."""
        import shutil

        # visibility sets from the WHOLE log's markers (tiny, broadcast);
        # committed is additionally gated on marker position (see above)
        log = self._read_log()
        committed = _committed(
            log.filter(F.col("_batch") <= F.lit(int(max_batch))))
        rolled = (log.filter(F.col("_kind") == "R").select("_txid").distinct()
                  .join(_committed(log), "_txid", "left_anti"))

        before = frozenset(self._log_files())
        whole = {os.path.basename(p) for p in paths} >= before
        segments = self.spark.read.schema(log.schema).parquet(*paths)
        data = (segments.filter(F.col("_kind").isin("U", "D"))
                .join(F.broadcast(rolled), "_txid", "left_anti"))
        winners = (_newest(_visible(data, committed), live=False)
                   .withColumn("_txid", F.lit(NIL_TXID)))
        pending = (data.filter(F.col("_txid") != NIL_TXID)
                   .join(F.broadcast(committed), "_txid", "left_anti"))
        out_cols = segments.columns
        if whole:
            pending_ids = (pending.select("_id").distinct()
                           .withColumn("_pending", F.lit(True)))
            merged = (winners.join(pending_ids, "_id", "left")
                      .filter((F.col("_kind") == "U")
                              | F.col("_pending").isNotNull())
                      .select(*out_cols))
        else:
            merged = (segments.filter(F.col("_kind").isin("C", "R"))
                      .unionByName(winners.select(*out_cols)))
        merged = merged.unionByName(pending.select(*out_cols))
        if arrange is not None:
            merged = arrange(merged).select(*out_cols)
        tmp = self.log_path + ".merging"
        merged.write.mode("overwrite").option(
            "maxRecordsPerFile", self.max_entries).parquet(tmp)
        stamp = uuid.uuid4().hex
        moved = []
        for i, fn in enumerate(sorted(os.listdir(tmp))):
            if fn.endswith(".parquet"):
                dst = os.path.join(self.log_path, f"merged-{stamp}-{i}.parquet")
                os.rename(os.path.join(tmp, fn), dst)
                moved.append(dst)
        shutil.rmtree(tmp, ignore_errors=True)
        for p in paths:
            _remove_segment(p)
        # every column of the log schema is written, so the schema does
        # not change: fold the new files in without re-inferring
        self._note_own_write(before, merged.schema)
        # rows dropped by the merge were invisible at every position at
        # or above max_batch, so the watermark stays faithful
        self._record_compaction(int(max_batch))
        self._invalidate_snapshots()
        return moved

    # -- indexes (reference: src/collection/indexes/ — declared structs with
    # no-op update(); README.md:78-81 Table/Index Seek roadmap). Spark
    # realizations: sorted data + parquet min/max stats, inverted-index
    # side table, dictionary/bitmap-style column statistics. ---------------
    @_leased
    def optimize(self, sort_by: list[str]) -> None:
        """'Sorted index': compact the log with rows sorted by ``sort_by``
        so every parquet row group carries tight min/max stats — filters
        on those columns prune row groups at scan time (index seek). The
        same segment merge as ``compact``, sorted before the write."""
        self._merge_log(
            lambda rows: rows.repartition(*[F.col(c) for c in sort_by])
            .sortWithinPartitions(*sort_by))

    @_leased
    def optimize_zorder(self, cols: list[str], bits: int = 10) -> None:
        """Multi-column clustering: compact the log with rows ordered by
        the Z-value (Morton code) of ``cols`` — bit-interleaved
        rank-scaled values — so parquet min/max stats prune row groups
        for filters on ANY subset of the clustered columns, not just a
        sort prefix (single-column ``optimize`` only helps its leading
        column).

        Scale shape: one tiny min/max aggregate (2·|cols| scalars to the
        driver), then the Z-value is a map-only literal-shift bit chain
        (plan-time constants, whole-stage codegen) and the rewrite is
        the same partition-parallel compaction as ``optimize``. Values
        are scaled to ``bits`` bits via global min/max — rank-exact
        quantile mapping is unnecessary for pruning, which only needs
        monotone per-column locality."""
        if not self._log_exists():
            return  # never written: nothing to rewrite
        snap = self.table_scan()
        aggs = []
        for c in cols:
            # try_cast: ANSI mode makes a plain cast THROW on non-numeric
            # strings; NULL (then a None min/max) is the signal we want.
            aggs += [F.min(F.col(c).try_cast("double")).alias(f"_mn_{c}"),
                     F.max(F.col(c).try_cast("double")).alias(f"_mx_{c}")]
        row = snap.agg(*aggs).collect()[0]
        # A non-numeric / all-NULL column (try_cast -> NULL) or an
        # empty collection yields None min/max — no locality to encode.
        # Skip such columns; with none left, degrade to a plain compact
        # instead of crashing on None arithmetic.
        usable = [c for c in cols
                  if row[f"_mn_{c}"] is not None and row[f"_mx_{c}"] is not None]
        if not usable:
            self.compact()
            return
        cols = usable
        n = len(cols)
        top = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for i, c in enumerate(cols):
            mn, mx = row[f"_mn_{c}"], row[f"_mx_{c}"]
            span = (mx - mn) or 1.0
            scaled = F.least(
                F.lit(top),
                F.coalesce(
                    F.floor((F.col(c).try_cast("double") - mn) * ((top + 1) / span))
                    .cast("long"),
                    F.lit(0).cast("long"),  # NULL cells sort first, not crash
                ),
            )
            for b in range(bits):
                bit = F.shiftright(scaled, b).bitwiseAND(F.lit(1).cast("long"))
                z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
        self._merge_log(
            lambda rows: rows.withColumn("_z", z)
            .repartitionByRange(F.col("_z")).sortWithinPartitions("_z"))

    def inverted_index(self, text_col: str,
                       max_df: int | None = 10_000) -> DataFrame:
        """'Reverse index' (src/collection/indexes/reverse.rs): token ->
        posting list of row ids. Materialize with .write for reuse.

        ``max_df`` guards posting-list skew (same failure mode — and
        default-on cure — as dedup's ``DEFAULT_MAX_SHINGLE_DF``,
        llm/dedup.py): a corpus-wide stopword term would otherwise
        ``collect_list`` every row id into ONE aggregation row — an
        unbounded array on a single executor at corpus scale. Terms
        above the cap keep their (exact) ``df`` for IDF-style scoring
        but carry an empty posting list: a term in most documents has
        ~zero retrieval selectivity, so lookups lose nothing they'd
        want. Pass ``None`` to disable the guard."""
        snap = self.table_scan()
        base = (
            snap.select(
                F.col("_id"),
                F.explode(
                    F.array_distinct(
                        F.regexp_extract_all(
                            ascii_lower(F.col(text_col)), F.lit(r"[a-z0-9']+"), 0
                        )
                    )
                ).alias("term"),
            )
        )
        if max_df is None:
            return base.groupBy("term").agg(
                F.collect_list("_id").alias("ids"),
                F.count(F.lit(1)).alias("df"))
        # Two-phase: an exact df per term first (scalar agg, no arrays),
        # then posting lists collected only for selective terms — the
        # stopword rows never materialize an array anywhere. The HOT set
        # (df > cap) is what gets broadcast: it is tiny by definition,
        # while the selective vocabulary can be millions of terms.
        dfreq = base.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        hot = dfreq.filter(F.col("df") > max_df)
        posts = (
            base.join(F.broadcast(hot.select("term")), "term", "left_anti")
            .groupBy("term")
            .agg(F.collect_list("_id").alias("ids"))
        )
        return (
            dfreq.join(posts, "term", "left")
            .select(
                "term",
                F.coalesce(F.col("ids"),
                           F.array().cast("array<string>")).alias("ids"),
                "df")
        )

    def column_stats(self, col: str) -> DataFrame:
        """'Bitmap index' analog: per-value cardinalities (dictionary
        stats) for low-cardinality columns, driving predicate selectivity
        estimates (reference src/collection/indexes/bitmap.rs)."""
        return (
            self.table_scan()
            .groupBy(F.col(col).alias("value"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )

    @_leased
    def coalesce_markers(self, min_files: int = 8) -> int:
        """Fold marker-only log files into one segment. Every
        ``commit()``/``rollback()`` appends a 1-row parquet file; a
        high-transaction-rate workload accumulates thousands of them
        between compactions, and small files are the classic scan-time
        killer (task scheduling + footer overhead per file).

        Metadata-only maintenance: candidate files are found by the footer
        cache's row counts (1-row files), verified marker-only by reading
        the tiny file, merged with pyarrow into a single segment, then
        the originals are removed — zero Spark jobs, O(marker files)
        tiny I/O, no data-file scan. Crash-safe ordering: the merged
        copy is written *before* the originals are deleted (duplicate
        markers are harmless — visibility uses the distinct txid set).
        Marker ``_batch``/``_seq`` values are preserved verbatim, and
        markers never participate in recency ranking, so the visible
        snapshot is unchanged. Returns the number of files folded."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        candidates, stubs, covered = [], [], set()
        for name, (n, _lo, _hi, cols) in self._footers().items():
            p = os.path.join(self.log_path, name)
            if n == 0:
                # schema-stub part files Spark emits next to small appends
                stubs.append((p, cols))
                continue
            covered.update(cols)
            if n == 1 and "_kind" in cols:
                t = pq.read_table(p)
                if t.column("_kind")[0].as_py() in ("C", "R"):
                    candidates.append((p, t))
        # a stub goes only when non-empty files carry all of its columns:
        # markers are narrow, so a stub can be the last file naming a
        # column an (empty) evolved batch added
        empties = [p for p, cols in stubs if set(cols) <= covered]
        if len(candidates) + len(empties) < min_files:
            return 0
        if candidates:
            merged = pa.concat_tables(
                [t for _, t in candidates], promote_options="default")
            out = os.path.join(
                self.log_path, f"markers-{uuid.uuid4().hex}.parquet")
            pq.write_table(merged, out)
        for p in [p for p, _ in candidates] + empties:
            _remove_segment(p)
        self._invalidate_snapshots()
        return len(candidates) + len(empties)

    def maybe_compact(self) -> bool:
        """Compaction trigger: redundancy ratio >= threshold (reference:
        collection_statistics.rs:11-14, default 0.5 storage_config.rs:33)
        runs the whole-log ``compact()``. Otherwise it folds accumulated
        1-row commit-marker files once there are 64 of them
        (``coalesce_markers``). Deciding costs one ``statistics()``:
        footer row counts plus the live count, memoized until the next
        write. Returns whether it compacted."""
        if self.statistics().should_compact:
            self.compact()
            return True
        self.coalesce_markers(min_files=64)
        return False
