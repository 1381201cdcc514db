"""KVStore — the reference's identity capability, Spark-native.

Reference semantics (SURVEY.md §2.A A1-A4):
  * ``put(key, bytes)`` writes a blob under a hash bucket:
    ``{root}/{DefaultHasher(key) as u16 % num_bucket}/{key}``
    (common/src/kv_store/local_kv_store/local_file_kv_store.rs:19-70,
    common/src/kv_store/mod.rs:26-30).
  * ``get(key)`` reads the whole blob back (local_file_kv_store.rs:49-60).
  * Overwrite of an existing key replaces the file.

Spark-native design — an LSM-flavored bucketed table, not a file per key:

  * Backing store: a **bucketed, sorted managed table**
    ``(key string, value binary, seq bigint)`` written with
    ``bucketBy(num_buckets, "key").sortBy("key")``. The bucket id
    ``pmod(hash(key), num_buckets)`` is the direct analog of the
    reference's ``short_hash % num_bucket`` placement, but at 100 TB it
    buys us (a) bucket pruning on point lookups — a ``get`` touches
    1/num_buckets of the data — and (b) shuffle-free joins against
    other tables bucketed on the same key.
  * ``put`` is an **append-only batch** stamped with a monotonically
    increasing ``seq``: O(batch) work, no read-modify-write of the
    whole table (an overwrite-on-put design would be O(table) per put
    and unusable at scale). Latest ``seq`` wins on read; deletes are
    tombstones (null value). ``compact()`` folds the log down to one
    row per live key.
  * ``get``/``exists``/``multi_get`` run no Spark job when the table
    lives on the local file system: like the reference, they hash the
    key (Spark's murmur3, :func:`bucket_id`), open only the parquet
    files whose names carry that bucket id, filter them on the key
    with pyarrow, and let the highest ``seq`` win. The table's
    location and fanout come from the catalog, and the bucket -> files
    listing is cached per process (:class:`_Listing`). Other locations
    (``hdfs://``, ``s3a://``, ...) take the Spark query
    (:meth:`KVStore._get_spark`), whose key filter prunes the scan to
    the same bucket files.

This trades a little read-side work (max-seq resolution) for scalable
writes — the same LSM trade-off every real KV store at this scale makes.
"""

from __future__ import annotations

import os
import re
import time
from typing import Iterable, NamedTuple
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Row, SparkSession, functions as F
from pyspark.sql import types as T

KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("seq", T.LongType(), False),
    ]
)


class KeyNotFound(KeyError):
    """Raised on get() of a missing/deleted key (reference: io::Error
    from File::open, local_file_kv_store.rs:51)."""


_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix(h1: int, k1: int) -> int:
    k1 = _rotl32((k1 * 0xCC9E2D51) & _M32, 15) * 0x1B873593 & _M32
    return (_rotl32(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _murmur3_x86_32(data: bytes, seed: int = 42) -> int:
    """Spark's ``Murmur3_x86_32.hashUnsafeBytes`` (the ``hash()`` of a
    string column): little-endian 4-byte blocks, then each tail byte
    sign-extended and mixed on its own — not the reference murmur3
    tail. Returns the signed 32-bit value ``F.hash`` gives."""
    h1, n = seed, len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        h1 = _mix(h1, int.from_bytes(data[i : i + 4], "little"))
    for b in data[aligned:]:
        h1 = _mix(h1, (b - 256 if b > 127 else b) & _M32)
    h1 ^= n
    h1 = ((h1 ^ (h1 >> 16)) * 0x85EBCA6B) & _M32
    h1 = ((h1 ^ (h1 >> 13)) * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


def bucket_id(key: str, num_buckets: int) -> int:
    """The bucket ``bucketBy(num_buckets, "key")`` writes ``key`` to:
    ``pmod(hash(key), num_buckets)``, computed without Spark."""
    return _murmur3_x86_32(key.encode("utf-8")) % num_buckets


# KV_SCHEMA as pyarrow reads it; passing it spares opening a file to
# infer it.
_ARROW_SCHEMA = pa.schema(
    [("key", pa.string()), ("value", pa.binary()), ("seq", pa.int64())]
)
# A bucketed table's data file names end in their bucket id
# (part-00000-<uuid>_00042.c000.snappy.parquet), as BucketingUtils
# parses them.
_BUCKET_FILE = re.compile(r"_(\d+)(?:\..*)?$")
# A directory stamp this recent may share its mtime tick with a write
# that is still landing, so its listing is not trusted for the next read.
_SETTLE_NS = 100_000_000


class _Listing(NamedTuple):
    """A table's data files as last listed. ``path`` is the local
    directory, or None when the catalog location is not local (reads
    take the Spark path). ``stamp`` is the directory's (st_ino,
    st_mtime_ns) when listed, or None to re-list on the next read.
    ``files[b]`` holds bucket ``b``'s files, so ``len(files)`` is the
    catalog's fanout."""

    path: str | None
    stamp: tuple[int, int] | None
    files: tuple[tuple[str, ...], ...]


# Table name -> _Listing, shared by every handle in the process. An
# entry is only ever replaced whole or popped (by each commit), so
# serving threads read it without a lock.
_LISTINGS: dict[str, _Listing] = {}


def _dir_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns


def _list_buckets(path: str, num_buckets: int) -> _Listing:
    st = os.stat(path)
    files: list[list[str]] = [[] for _ in range(num_buckets)]
    for name in os.listdir(path):
        if name.startswith(("_", ".")):  # _SUCCESS, _temporary, .crc
            continue
        m = _BUCKET_FILE.search(name)
        if m is None or int(m.group(1)) >= num_buckets:
            raise RuntimeError(
                f"{os.path.join(path, name)} is not a data file of a "
                f"{num_buckets}-bucket table"
            )
        files[int(m.group(1))].append(os.path.join(path, name))
    settled = time.time_ns() - st.st_mtime_ns >= _SETTLE_NS
    stamp = (st.st_ino, st.st_mtime_ns) if settled else None
    return _Listing(path, stamp, tuple(map(tuple, files)))


def _live(rows: Iterable[tuple[str, bytes | None, int]]) -> dict[str, bytes]:
    """Latest ``seq`` wins per key; tombstoned (null) keys are dropped."""
    best: dict[str, tuple[int, bytes | None]] = {}
    for key, value, seq in rows:
        if key not in best or seq > best[key][0]:
            best[key] = (seq, value)
    return {k: bytes(v) for k, (_, v) in best.items() if v is not None}


def _read_buckets(listing: _Listing, keys: list[str]) -> dict[str, bytes]:
    """Direct read: the parquet files of the keys' buckets, each read
    once in one pyarrow call with an In filter on the key."""
    n = len(listing.files)
    files = [f for b in {bucket_id(k, n) for k in keys} for f in listing.files[b]]
    if not files:
        return {}
    t = pq.read_table(files, schema=_ARROW_SCHEMA, filters=[("key", "in", keys)])
    return _live(zip(*(t.column(c).to_pylist() for c in _ARROW_SCHEMA.names)))


class KVStore:
    """Bucketed log-structured KV store over a managed Spark table.

    SINGLE-WRITER CONTRACT: all mutating methods (put/put_batch/put_df/
    delete/compact/evict) assume exactly one live writer handle per
    backing table. Concurrent writers can allocate the same seq
    (nondeterministic last-write-wins) and compact/evict swap tables by
    rename, which is not atomic across two drivers. Readers are always
    safe. The reference's local FS store carries the same assumption
    (local_file_kv_store.rs — plain create/rename, no locking).

    Crash recovery: a hard crash inside compact() can strand the data
    under ``<table>_bak``/``<table>_compact`` with the live name
    unbound; __init__ detects and restores that automatically (see
    _recover_orphans), so re-creating the handle heals the store.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str = "kv_default",
        num_buckets: int = 1024,
        location: str | None = None,
    ):
        # 1024 matches the reference default (local_kv_options.rs:23);
        # tests use a smaller fanout so bucket files stay non-tiny.
        self.spark = spark
        self.table = f"fairy_kv_{name}"
        self.num_buckets = num_buckets
        # ``location``: back the log with an EXTERNAL table at an
        # explicit path — the durable-log mode. The path is the store's
        # identity (the reference's data_path root,
        # local_file_kv_store.rs:62-70); the catalog entry is just a
        # metadata cache over it. Spark's default in-memory catalog
        # forgets managed tables on process restart, so a managed store
        # dies with the driver; with a location, a NEW process (or a
        # post-DROP catalog) re-registers the same files and every
        # historical seq is still there — scan_as_of works across
        # restarts.
        self.location = location
        self._recover_orphans()
        if location is not None:
            self._recover_from_location()

    # -- internals ---------------------------------------------------------

    def _recover_orphans(self) -> None:
        """Heal a compact() hard-crash: if the live name is unbound but
        a ``_bak`` (old live, renamed away) or ``_compact`` (finished
        snapshot, not yet renamed in) table exists, rebind it. At every
        crash point the two are logically equivalent (the snapshot is
        written before the live table is renamed away), so preferring
        ``_bak`` restores the exact pre-compact bytes. A leftover
        snapshot/backup NEXT TO a live table is stale garbage from an
        interrupted earlier attempt and is dropped."""
        bak, tmp = self.table + "_bak", self.table + "_compact"
        cat = self.spark.catalog
        if not cat.tableExists(self.table):
            if cat.tableExists(bak):
                self.spark.sql(f"ALTER TABLE {bak} RENAME TO {self.table}")
            elif cat.tableExists(tmp):
                self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {self.table}")
        if cat.tableExists(self.table):
            for t in (tmp, bak):
                if cat.tableExists(t):
                    self.spark.sql(f"DROP TABLE IF EXISTS {t}")

    def _hadoop_path(self, *parts: str):
        jvm = self.spark.sparkContext._jvm
        return jvm.org.apache.hadoop.fs.Path(*parts)

    def _hadoop_fs(self, path):
        return path.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())

    def _recover_from_location(self) -> None:
        """Location-backed durability: if the catalog has no entry for
        this store but its path holds data (a fresh process over a
        durable log — or a finished-but-unrenamed compaction snapshot),
        re-register the files as the SAME external bucketed table.
        Bucket file names carry their bucket id, so the re-registered
        table keeps bucket pruning and shuffle-free key aggs."""
        if self._exists_table():
            return
        loc = self._hadoop_path(self.location)
        fs = self._hadoop_fs(loc)
        tmp = self._hadoop_path(self.location.rstrip("/") + "__compact")
        if not fs.exists(loc) and fs.exists(tmp):
            # hard crash between "delete old live dir" and "rename
            # snapshot in" during a location-mode compact(): the
            # snapshot IS the live state — finish the rename.
            fs.rename(tmp, loc)
        if fs.exists(loc) and fs.listStatus(loc):
            self.spark.sql(
                f"CREATE TABLE {self.table} (key STRING, value BINARY, seq BIGINT) "
                f"USING PARQUET CLUSTERED BY (key) SORTED BY (key) "
                f"INTO {self.num_buckets} BUCKETS LOCATION '{self.location}'"
            )

    def _exists_table(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def _log(self) -> DataFrame:
        if not self._exists_table():
            return self.spark.createDataFrame([], KV_SCHEMA)
        return self.spark.table(self.table)

    def _alloc_seq(self) -> int:
        """Next write sequence, re-read from the table at EVERY batch.

        A cached counter goes stale the moment another KVStore handle
        (or a recreated one) writes to the same backing table, and
        colliding seqs make max_by(value, seq) resolve last-write-wins
        nondeterministically. Re-reading max(seq) is a parquet
        footer-stats aggregate — metadata cost per batch, not a scan.
        Two handles writing CONCURRENTLY can still read the same max;
        single live writer per table is the documented contract (the
        reference's local FS store assumes the same)."""
        return self.current_seq() + 1

    def _append_df(self, df: DataFrame) -> None:
        """Append one write generation to the log table. All mutating
        paths funnel through here so the location-backed (external)
        mode is applied uniformly: with a location the first write
        creates an EXTERNAL table at that path, later appends land in
        the same files either way."""
        w = (
            df.write.mode("append")
            .bucketBy(self.num_buckets, "key")
            .sortBy("key")
            .format("parquet")
        )
        if self.location is not None:
            w = w.option("path", self.location)
        try:
            w.saveAsTable(self.table)
        finally:
            _LISTINGS.pop(self.table, None)

    def _append(self, rows: list[Row]) -> None:
        self._append_df(self.spark.createDataFrame(rows, KV_SCHEMA))

    def _latest(self) -> DataFrame:
        """One row per key, latest seq wins; tombstones still present."""
        log = self._log()
        # max_by avoids a window shuffle: single hash-agg on the bucket key,
        # which is shuffle-free because the table is bucketed by key.
        return log.groupBy("key").agg(
            F.max_by("value", "seq").alias("value"), F.max("seq").alias("seq")
        )

    # -- public surface (A1-A4 parity) -------------------------------------

    def put(self, key: str, value: bytes) -> None:
        self.put_batch([(key, value)])

    def put_batch(self, pairs: list[tuple[str, bytes]]) -> None:
        # Duplicate keys within one batch share one seq — keep only the
        # LAST occurrence so read-back is strict last-write-wins instead
        # of a nondeterministic max_by tie.
        deduped = {k: v for k, v in pairs}
        seq = self._alloc_seq()
        self._append([Row(key=k, value=bytes(v), seq=seq) for k, v in deduped.items()])

    def put_df(self, df: DataFrame) -> None:
        """Bulk ingest from any (key string, value binary) DataFrame —
        the analog of the h2 put_object ingest path (h2_service.rs:89-109),
        minus its first-chunk-only truncation bug (SURVEY.md §3.1).

        Duplicate keys within the batch are reduced to one row (all
        batch rows share one seq, so duplicates would otherwise tie on
        max_by): 'last' occurrence by input partition order, which is
        deterministic for a deterministic input plan."""
        seq = self._alloc_seq()
        deduped = (
            df.select(
                F.col("key").cast("string").alias("key"),
                F.col("value").cast("binary").alias("value"),
                F.monotonically_increasing_id().alias("_pos"),
            )
            .groupBy("key")
            .agg(F.max_by("value", "_pos").alias("value"))
        )
        rows = deduped.select(
            "key", "value", F.lit(seq).cast("long").alias("seq")
        )
        self._append_df(rows)

    def _catalog_info(self) -> dict[str, str]:
        """The live table's DESCRIBE TABLE EXTENDED rows as
        {col_name: data_type} ('Location', 'Num Buckets', ...); empty
        when the table does not exist."""
        if not self._exists_table():
            return {}
        try:
            rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {self.table}").collect()
        except AnalysisException:  # dropped or renamed away since the check
            return {}
        return {r["col_name"]: r["data_type"] for r in rows}

    def _listing(self, fresh: bool = False) -> _Listing | None:
        """The live table's bucket -> files map (None: no table). The
        shared entry is reused while the directory's stamp is unchanged,
        so writers in other processes are noticed too; otherwise the
        location and fanout are re-read from the catalog, never taken
        from this handle's ``num_buckets``."""
        entry = _LISTINGS.get(self.table)
        if entry is not None and not fresh and (
            entry.path is None
            or (entry.stamp is not None and entry.stamp == _dir_stamp(entry.path))
        ):
            return entry
        info = self._catalog_info()
        if not info:
            return None
        loc = urlparse(info["Location"])
        if loc.scheme in ("", "file"):
            entry = _list_buckets(unquote(loc.path), int(info["Num Buckets"]))
        else:
            entry = _Listing(None, None, ())
        _LISTINGS[self.table] = entry
        return entry

    def _read(self, listing: _Listing | None, keys: list[str]) -> dict[str, bytes]:
        if listing is None:
            return {}
        if listing.path is None:
            return self._get_spark(keys)
        return _read_buckets(listing, keys)

    def _lookup(self, keys: list[str]) -> dict[str, bytes]:
        """Live values of ``keys`` (missing and tombstoned keys are
        absent) — the one read path of get, exists and multi_get."""
        try:
            return self._read(self._listing(), keys)
        except FileNotFoundError:
            # A compaction swap removed listed files: re-list once. A
            # second miss means the layout is still moving, so it raises.
            return self._read(self._listing(fresh=True), keys)

    def _get_spark(self, keys: list[str]) -> dict[str, bytes]:
        """The Spark-job lookup, for locations that are not local
        (``hdfs://``, ``s3a://``, ...): one In filter on the key, which
        prunes the scan to the probed keys' bucket files, then the same
        latest-seq resolution as the direct read."""
        rows = self._log().filter(F.col("key").isin(keys)).select("key", "value", "seq")
        return _live(rows.collect())

    def get(self, key: str) -> bytes:
        """The value of ``key``; KeyNotFound when it is missing or
        deleted. A local store hashes the key and reads only that
        bucket's parquet files, with no Spark job — the reference's
        hash-then-open-one-file read (local_file_kv_store.rs:49-70)."""
        value = self._lookup([key]).get(key)
        if value is None:
            raise KeyNotFound(key)
        return value

    def multi_get(self, keys: list[str]) -> dict[str, bytes]:
        """Batched point lookups — the reference get path
        (local_file_kv_store.rs:49-60) generalized to a key set
        (`kv_multi_get` pins the relational shape against its oracle).
        The keys are grouped by bucket and each bucket's files are read
        once with an In filter on the key, so B keys cost at most
        min(B, num_buckets) file reads and no Spark job. Missing and
        tombstoned keys are simply absent from the result (no
        KeyNotFound — a batch caller checks membership)."""
        if not keys:
            return {}
        return self._lookup(keys)

    def get_df(self, keys: DataFrame) -> DataFrame:
        """Batch get: join a (key) DataFrame against the store.
        Broadcast the probe side — at 100 TB the store is huge and the
        key list is small, so this is a bucket-local broadcast join."""
        latest = self._latest().filter(F.col("value").isNotNull())
        return latest.join(F.broadcast(keys.select("key").distinct()), "key", "inner").select(
            "key", "value"
        )

    def delete(self, key: str) -> None:
        self.delete_batch([key])

    def delete_batch(self, keys: list[str]) -> None:
        """Tombstone many keys under ONE write sequence — the batched
        twin of put_batch (one table append instead of one per key)."""
        if not keys:
            # no-op delete: don't burn a sequence number or launch an
            # empty parquet write job (ADVICE r5)
            return
        seq = self._alloc_seq()
        self._append([Row(key=k, value=None, seq=seq) for k in dict.fromkeys(keys)])

    def delete_prefix(self, prefix: str) -> int:
        """Tombstone every LIVE key under ``prefix`` — the directory-
        remove analog of scan_prefix (reference: the FUSE namespace can
        only unlink one inode per call; a cache layer wants the whole
        listing gone in one write). The predicate is a StringStartsWith
        on the bucketed table's sort column, pushed below the
        latest-wins agg to the parquet scan, so the cost is
        O(matching keys), not O(store). One tombstone batch under ONE
        sequence — versioned like every delete (scan_as_of still
        reconstructs pre-delete state). Returns the number of keys
        tombstoned."""
        return self._tombstone_where(F.col("key").startswith(prefix))

    def delete_range(self, start: str, end: str) -> int:
        """Tombstone every LIVE key in the half-open range
        [``start``, ``end``) — the range-delete primitive LSM stores
        expose (RocksDB DeleteRange, public). Both bounds are pushed
        to the sorted bucketed scan like scan/kv_range_scan's. Returns
        the number of keys tombstoned."""
        if end <= start:
            return 0
        return self._tombstone_where((F.col("key") >= start) & (F.col("key") < end))

    def _tombstone_where(self, pred: Column) -> int:
        """Shared tombstone body of the range/prefix deletes, expiry and
        eviction: live keys whose latest row matches ``pred`` get a
        tombstone under one new sequence. Returns the number of keys
        tombstoned."""
        doomed_keys = (
            self._latest()
            .filter(F.col("value").isNotNull())
            .filter(pred)
            .select("key")
        )
        seq = self._alloc_seq()
        doomed = (
            doomed_keys.withColumn("value", F.lit(None).cast("binary"))
            .withColumn("seq", F.lit(seq).cast("bigint"))
            .select("key", "value", "seq")
            # Materialize BEFORE the append: the plan reads the same
            # log table the append writes into, so a lazy plan would
            # (a) re-run the full latest-wins agg for the write after
            # the count() already ran it, and (b) lean on Spark not
            # reordering a self-referential insert. localCheckpoint
            # pins the result once; count and append both read the
            # materialized rows (ADVICE r7).
            .localCheckpoint(eager=True)
        )
        n = doomed.count()
        if n:
            self._append_df(doomed)
        return n

    def expire_older_than(self, min_seq: int) -> int:
        """Cache-style TTL EVICTION (the op the reference, being a
        cache, lives by — here seq is the age axis; a wall-clock TTL
        is the same predicate on an ingest-time column): every LIVE
        key whose latest write is older than ``min_seq`` gets a
        tombstone under one new sequence, so expiry is one bucket-
        local latest-wins agg + one append — O(stale keys), never a
        rewrite of the log (compact() reclaims space later, and
        scan_as_of still reconstructs pre-expiry state: eviction is
        itself versioned). Returns the number of keys expired."""
        return self._tombstone_where(F.col("seq") < min_seq)

    def exists(self, key: str) -> bool:
        return key in self._lookup([key])

    def keys(self) -> DataFrame:
        return self._latest().filter(F.col("value").isNotNull()).select("key")

    def scan(self) -> DataFrame:
        """Full live view (key, value) — the analytics bridge."""
        return self._latest().filter(F.col("value").isNotNull()).select("key", "value")

    def current_seq(self) -> int:
        """Latest committed write sequence (0 for an empty store) — the
        snapshot handle for :meth:`scan_as_of`. Parquet footer-stats
        aggregate: metadata cost, not a scan."""
        if not self._exists_table():
            return 0
        row = self._log().agg(F.max("seq").alias("m")).first()
        return row["m"] or 0

    def scan_as_of(self, seq: int) -> DataFrame:
        """Snapshot (key, value) view as of write sequence ``seq``
        (inclusive) — MVCC time travel, free because the store is an
        append-only log: filtering ``seq <= S`` before the latest-wins
        agg reconstructs exactly the state after write S, including
        un-deleting keys whose tombstones came later. Compaction is
        the one operation that discards history (it rewrites the live
        view only) — snapshots older than the last compact() are gone,
        the same contract as any compacting LSM."""
        log = self._log().filter(F.col("seq") <= seq)
        latest = log.groupBy("key").agg(F.max_by("value", "seq").alias("value"))
        return latest.filter(F.col("value").isNotNull()).select("key", "value")

    def scan_prefix(self, prefix: str) -> DataFrame:
        """Live (key, value) pairs under a key prefix — the directory-
        listing analog of the reference's FUSE namespace (readdir over
        ListStatusCache, uring_fs/mod.rs:116-166; ours is a pushed
        StringStartsWith on the sorted bucketed files)."""
        return self.scan().filter(F.col("key").startswith(prefix))

    def bucket_of(self, key: str) -> int:
        """Deterministic bucket id at this handle's write fanout, analog
        of data_path()'s ``short_hash % num_bucket``
        (local_file_kv_store.rs:62-70); the read path's own hash."""
        return bucket_id(key, self.num_buckets)

    def compact(self) -> None:
        """Fold the log: one row per live key, seq reset. O(store) — run
        it like any LSM major compaction, not per-put.

        Swap order is crash-safe: snapshot → tmp, live → backup,
        tmp → live, drop backup. An in-process failure restores the
        backup immediately; a hard crash (process kill) between the two
        renames leaves the live name unbound with the data in _bak —
        healed by _recover_orphans on the next handle creation.
        Requires exclusive access, like every other write on this
        class (single-writer contract)."""
        latest = self._latest().filter(F.col("value").isNotNull())
        snapshot = latest.select("key", "value", F.lit(1).cast("long").alias("seq"))
        self._replace_with(snapshot)

    def rebucket(self, new_num_buckets: int) -> None:
        """Migrate the store to a different hash fanout — the
        reference's ``num_bucket`` setting (local_kv_options.rs:23)
        made changeable: every key's bucket id ``pmod(hash(key), n)``
        changes with n, so the reference would have to re-derive
        data_path and move every blob file
        (local_file_kv_store.rs:62-70); here it is ONE bucketBy
        shuffle of the log into the new layout plus the compact()
        crash-safe swap discipline. The FULL history is preserved
        (every seq — scan_as_of / time travel survive the migration:
        this is a layout move, not a compaction), and point-lookup
        bucket pruning works immediately at the new fanout. O(store),
        run like a major compaction. Single-writer contract applies."""
        if new_num_buckets == self.num_buckets or not self._exists_table():
            self.num_buckets = new_num_buckets
            return
        snapshot = self._log().select("key", "value", "seq")
        old = self.num_buckets
        self.num_buckets = new_num_buckets
        try:
            self._replace_with(snapshot)
        except Exception:
            # _replace_with can fail AFTER the new-layout table is the
            # live one (e.g. the trailing DROP of the _bak table) — an
            # unconditional rollback to `old` would desync bucket_of
            # from the on-disk layout and mis-prune point lookups. Set
            # the handle's fanout to whatever the catalog actually
            # holds now; fall back to `old` only when no live table is
            # readable (swap never committed / crash-window state).
            self.num_buckets = self._catalog_num_buckets(default=old)
            raise

    def _catalog_num_buckets(self, default: int) -> int:
        """The live table's bucket fanout as recorded in the catalog
        ('Num Buckets' row of DESCRIBE TABLE EXTENDED), or ``default``
        when the table is missing or unbucketed."""
        return int(self._catalog_info().get("Num Buckets", default))

    def _replace_with(self, snapshot: DataFrame) -> None:
        """Atomically replace the backing table with ``snapshot``
        (written at the CURRENT ``self.num_buckets``), using the
        crash-safe swap order documented on compact()."""
        try:
            if self.location is not None:
                self._compact_external(snapshot)
            else:
                self._swap_managed(snapshot)
        finally:
            _LISTINGS.pop(self.table, None)

    def _swap_managed(self, snapshot: DataFrame) -> None:
        """Managed-table swap: snapshot -> ``_compact``, live -> ``_bak``,
        ``_compact`` -> live, drop ``_bak``."""
        tmp = self.table + "_compact"
        bak = self.table + "_bak"
        (
            snapshot.write.mode("overwrite")
            .bucketBy(self.num_buckets, "key")
            .sortBy("key")
            .format("parquet")
            .saveAsTable(tmp)
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {bak}")
        had_live = self._exists_table()
        if had_live:
            self.spark.sql(f"ALTER TABLE {self.table} RENAME TO {bak}")
        try:
            self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {self.table}")
        except Exception:
            if had_live:
                self.spark.sql(f"ALTER TABLE {bak} RENAME TO {self.table}")
            raise
        self.spark.sql(f"DROP TABLE IF EXISTS {bak}")

    def _compact_external(self, snapshot: DataFrame) -> None:
        """Location-mode compact: catalog renames don't move EXTERNAL
        files, so the swap happens at the filesystem level — snapshot
        to ``{location}__compact``, drop the live dir, rename the
        snapshot dir in, re-register. The path stays the store's
        identity across the swap (a restart recovers from either side
        of the rename: _recover_from_location finishes an interrupted
        one). Same crash-safety order as the managed branch: the
        snapshot is durable before any destructive step."""
        tmp_table = self.table + "_compact"
        tmp_loc = self.location.rstrip("/") + "__compact"
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        tmp_path = self._hadoop_path(tmp_loc)
        fs = self._hadoop_fs(tmp_path)
        if fs.exists(tmp_path):
            fs.delete(tmp_path, True)
        (
            snapshot.write.mode("overwrite")
            .bucketBy(self.num_buckets, "key")
            .sortBy("key")
            .format("parquet")
            .option("path", tmp_loc)
            .saveAsTable(tmp_table)
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        live_path = self._hadoop_path(self.location)
        if fs.exists(live_path):
            fs.delete(live_path, True)
        fs.rename(tmp_path, live_path)
        self._recover_from_location()

    def evict(self, keep_latest: int) -> int:
        """Retention eviction: keep only the keep_latest most recently
        written live keys (recency = max seq per key), delete the rest.
        Returns the number of keys evicted.

        The reference README claims a 'lock-free eviction policy'
        (README.md:10) that the code never implements (SURVEY.md §0
        claim-vs-code gap) — this is that capability, expressed as a
        log-structured retention pass: find the recency boundary,
        tombstone everything past it, compact. O(store), run like a GC
        cycle.

        No global window: the boundary (seq, key) of the keep_latest-th
        most recent key comes from a distributed top-k (map-side top-k
        per partition, then keep_latest rows reduced — bounded by the
        parameter, not the keyspace), and victims are a plain filter
        against that boundary. Recency order is (seq DESC, key ASC),
        encoded as an ascending struct(-seq, key) so the boundary is its
        max over the kept set."""
        recency = F.struct(
            (-F.col("seq")).alias("ns"), F.col("key").alias("k")
        )
        if keep_latest <= 0:
            pred = F.lit(True)
        else:
            kept = (
                self._latest()
                .filter(F.col("value").isNotNull())
                .select(recency.alias("_r"))
                .orderBy("_r")
                .limit(keep_latest)
            )
            row = kept.agg(F.max("_r").alias("b")).first()
            if row["b"] is None:
                return 0
            bound = F.struct(
                F.lit(row["b"]["ns"]).cast("long").alias("ns"),
                F.lit(row["b"]["k"]).alias("k"),
            )
            pred = recency > bound
        n = self._tombstone_where(pred)
        if n:
            self.compact()
        return n

    def drop(self) -> None:
        # Resolve the table's REAL location from the catalog BEFORE
        # dropping — blindly deleting {warehouse}/{table} could hit a
        # path owned by something else when the table lives in a
        # non-default database or under a LOCATION override, and the
        # conf lookup raised when the key was unset (ADVICE r5).
        location = self._catalog_info().get("Location")
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        _LISTINGS.pop(self.table, None)
        # Clear the path too, through the JVM Hadoop FS so any
        # warehouse scheme works: a write that failed BETWEEN
        # location-create and catalog-register leaves an orphaned dir
        # the next saveAsTable refuses to reuse
        # (LOCATION_ALREADY_EXISTS); drop() guarantees a clean slate.
        if self.location is not None:
            # Location-backed store: destroy the durable log AND any
            # leftover compaction snapshot — drop() means the data is
            # gone, external or not.
            for p in (self.location, self.location.rstrip("/") + "__compact"):
                path = self._hadoop_path(p)
                fs = self._hadoop_fs(path)
                if fs.exists(path):
                    fs.delete(path, True)
            return
        if location is not None:
            path = self._hadoop_path(location)
        else:
            # Orphan case — the table was never catalog-registered, so
            # the only candidate is the default managed path; skip if
            # no warehouse dir is configured.
            warehouse = self.spark.conf.get("spark.sql.warehouse.dir", None)
            if warehouse is None:
                return
            path = self._hadoop_path(warehouse, self.table.lower())
        fs = self._hadoop_fs(path)
        if fs.exists(path):
            fs.delete(path, True)
