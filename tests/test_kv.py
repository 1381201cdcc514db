"""KVStore lifecycle tests — the reference's behavioral spec, re-stated:
put/get round-trip (A1/A2), overwrite-replaces (local_file_kv_store.rs
File::create semantics), missing-key error (A2 open failure), the
create→lookup→delete→recreate lifecycle idioms of the reference's
inode_table tests (fuse/src/async_fuse/inode_table.rs:263-352), and
bucket determinism (A3/A4)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from fairy_spark.kv import KeyNotFound, KVStore, bucket_id


@pytest.fixture()
def kv(spark):
    store = KVStore(spark, name="test", num_buckets=8)
    store.drop()
    yield store
    store.drop()


def test_put_get_roundtrip(kv):
    kv.put("k1", b"hello world")
    assert kv.get("k1") == b"hello world"


def test_get_missing_raises(kv):
    kv.put("k1", b"x")
    with pytest.raises(KeyNotFound):
        kv.get("nope")


def test_overwrite_replaces(kv):
    kv.put("k", b"v1")
    kv.put("k", b"v2")
    assert kv.get("k") == b"v2"


def test_delete_then_recreate(kv):
    # inode_table.rs lifecycle idiom: create → unlink → recreate
    kv.put("k", b"v1")
    kv.delete("k")
    assert not kv.exists("k")
    with pytest.raises(KeyNotFound):
        kv.get("k")
    kv.put("k", b"v3")
    assert kv.get("k") == b"v3"


def test_batch_put_and_scan(kv):
    pairs = [(f"key{i}", f"value{i}".encode()) for i in range(20)]
    kv.put_batch(pairs)
    live = {r["key"]: bytes(r["value"]) for r in kv.scan().collect()}
    assert live == dict(pairs)


def test_get_df_batch_lookup(kv, spark):
    kv.put_batch([(f"k{i}", bytes([i])) for i in range(10)])
    probe = spark.createDataFrame([("k1",), ("k7",), ("missing",)], "key string")
    got = {r["key"]: bytes(r["value"]) for r in kv.get_df(probe).collect()}
    assert got == {"k1": b"\x01", "k7": b"\x07"}


def test_compact_preserves_live_state(kv):
    kv.put("a", b"1")
    kv.put("a", b"2")
    kv.put("b", b"3")
    kv.delete("b")
    kv.put("c", b"4")
    kv.compact()
    assert kv.get("a") == b"2"
    assert not kv.exists("b")
    assert kv.get("c") == b"4"
    # post-compact writes still win
    kv.put("a", b"5")
    assert kv.get("a") == b"5"


# Every UTF-8 tail length (0-3 bytes past the last 4-byte block, and
# 1-4 byte characters), empty and non-ASCII keys, on top of hypothesis'.
_HASH_EDGES = ["", "a", "ab", "abc", "abcd", "ü", "aü", "€", "a€", "🙂", "ключ/ü", "k\x00"]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(max_size=12), min_size=1, max_size=30, unique=True))
def test_bucket_determinism(spark, keys):
    """The read path's Python hash (``bucket_id``, and ``bucket_of``
    through it) places every key where Spark's ``bucketBy`` does:
    ``pmod(hash(key), n)``, for arbitrary text and fanouts."""
    keys = list(dict.fromkeys(keys + _HASH_EDGES))
    fanouts = (1, 7, 8, 1024)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    want = {
        r["k"]: tuple(r[1:])
        for r in df.select(
            "k", *(F.pmod(F.hash(F.col("k")), F.lit(n)).alias(f"b{n}") for n in fanouts)
        ).collect()
    }
    assert {k: tuple(bucket_id(k, n) for n in fanouts) for k in keys} == want
    kv8 = KVStore(spark, name="bucket_probe", num_buckets=8)
    assert [kv8.bucket_of(k) for k in keys] == [want[k][2] for k in keys]


def test_put_df_bulk_ingest(kv, spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(25)
    from pyspark.sql import functions as F

    kv.put_df(
        docs.select(
            F.col("doc_id").cast("string").alias("key"),
            F.col("text").cast("binary").alias("value"),
        )
    )
    sample = docs.select("doc_id", "text").collect()[0]
    assert kv.get(str(sample["doc_id"])) == sample["text"].encode()


def test_evict_keeps_most_recent(kv):
    """Eviction (the reference README's claimed-but-unbuilt capability):
    keep_latest=N retains the N most recently written keys; evicted
    keys read as missing; survivors keep their values."""
    for i in range(10):
        kv.put(f"ev{i}", bytes([i]))
    n = kv.evict(keep_latest=3)
    assert n == 7
    assert sorted(r["key"] for r in kv.keys().collect()) == ["ev7", "ev8", "ev9"]
    assert kv.get("ev9") == bytes([9])
    assert not kv.exists("ev0")
    # eviction is idempotent at the same retention
    assert kv.evict(keep_latest=3) == 0


def test_scan_prefix_lists_namespace(kv):
    """FUSE readdir analog: prefix scan returns exactly the keys under
    the prefix, live values only."""
    kv.put_batch([("dir1/a", b"1"), ("dir1/b", b"2"), ("dir2/c", b"3")])
    kv.delete("dir1/b")
    got = sorted(r["key"] for r in kv.scan_prefix("dir1/").collect())
    assert got == ["dir1/a"]
    assert sorted(r["key"] for r in kv.scan_prefix("dir2/").collect()) == ["dir2/c"]


def test_scan_prefix_filter_pushed_below_latest_agg(kv):
    """The prefix predicate must apply BEFORE the latest-version
    resolution aggregation, not after it: at 100 TB the difference is
    aggregating the whole store vs only the prefix's buckets."""
    import io
    from contextlib import redirect_stdout

    kv.put_batch([("p/a", b"1"), ("q/b", b"2")])
    buf = io.StringIO()
    with redirect_stdout(buf):
        kv.scan_prefix("p/").explain("formatted")
    plan = buf.getvalue()
    # StartsWith appears in the scan's pushed filters / below the agg
    agg_pos = plan.find("max_by")
    sw_pos = plan.rfind("StartsWith")
    assert sw_pos != -1, plan
    assert "PushedFilters: [IsNotNull(key), StringStartsWith(key,p/)" in plan or (
        agg_pos != -1 and sw_pos > agg_pos
    ), plan


def test_second_handle_sees_prior_writes(kv, spark):
    """Seq allocation is re-read from the table per batch: a second
    handle (or a recreated one) must continue the seq chain, so its
    overwrite wins on read-back instead of tying with the first
    handle's write."""
    kv.put("k", b"old")
    other = KVStore(spark, name="test", num_buckets=8)
    other.put("k", b"new")
    assert kv.get("k") == b"new"
    kv.put("k", b"newer")
    assert other.get("k") == b"newer"


def test_put_batch_duplicate_keys_last_wins(kv):
    kv.put_batch([("dup", b"first"), ("other", b"x"), ("dup", b"last")])
    assert kv.get("dup") == b"last"
    assert kv.get("other") == b"x"


def test_no_window_in_kv_module():
    """Scale gate (VERDICT r1 item 6): kv.py must not rank the keyspace
    through a global window."""
    import inspect

    import fairy_spark.kv as kv_mod

    src = inspect.getsource(kv_mod)
    assert "Window" not in src, "kv.py regained a window-based ranking"


def test_evict_boundary_ties_deterministic(kv):
    """Keys written in one batch share a seq; the eviction boundary must
    break ties by key so the same keys survive on every run."""
    kv.put_batch([(f"k{i}", bytes([i])) for i in range(6)])
    evicted = kv.evict(keep_latest=3)
    assert evicted == 3
    # (seq ties broken by key ASC) -> k0..k2 kept
    assert sorted(r["key"] for r in kv.keys().collect()) == ["k0", "k1", "k2"]


def test_compact_hard_crash_recovery(kv, spark):
    """A process kill between compact()'s two renames leaves the live
    name unbound with the data in _bak; creating a fresh handle must
    rebind it (ADVICE r2: the in-process restore alone can't cover a
    hard crash)."""
    kv.put_batch([("a", b"1"), ("b", b"2")])
    # Simulate the crash window: live renamed away, swap never finished.
    spark.sql(f"ALTER TABLE {kv.table} RENAME TO {kv.table}_bak")
    healed = KVStore(spark, name="test", num_buckets=8)
    assert healed.get("a") == b"1" and healed.get("b") == b"2"
    assert not spark.catalog.tableExists(f"{kv.table}_bak")
    # Orphaned snapshot with no live and no bak: snapshot is rebound.
    spark.sql(f"ALTER TABLE {kv.table} RENAME TO {kv.table}_compact")
    healed2 = KVStore(spark, name="test", num_buckets=8)
    assert healed2.get("b") == b"2"
    # Stale snapshot NEXT TO a live table is dropped, live untouched.
    healed2.scan().limit(0).write.mode("overwrite").saveAsTable(f"{kv.table}_compact")
    healed3 = KVStore(spark, name="test", num_buckets=8)
    assert healed3.get("a") == b"1"
    assert not spark.catalog.tableExists(f"{kv.table}_compact")


def test_random_op_sequences_match_dict_model(kv, spark):
    """Model-based check: a random put/delete/delete_prefix/expire/
    compact/evict/rebucket sequence must leave the store
    observationally equal to a plain dict applying the same ops. After
    EVERY step the direct reads (get/exists/multi_get) must equal both
    the model and the Spark lookup (_get_spark). Deterministic LCG
    'randomness' so a failure replays exactly (SURVEY.md §7.5 forbids
    builtin hash(); same spirit: no seed-dependent flakes). Covers the
    interleavings the single-idiom lifecycle tests above can't:
    delete-then-compact, overwrite-after-evict, compact-then-more-puts,
    reads across a fanout change."""
    state = 0xC0FFEE

    def rng(n):
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return state % n

    model: dict[str, bytes] = {}
    written: dict[str, int] = {}  # live key -> seq of its latest write
    seq = 0  # the log's max seq, as _alloc_seq sees it
    keys = [f"k{i}" for i in range(6)] + ["", "ключ/ü"]
    other = KVStore(spark, name="test", num_buckets=8)  # a second writer
    for step in range(40):
        op = rng(16)
        k = keys[rng(len(keys))]
        if op < 6:  # put (incl. overwrite)
            v = bytes([rng(256), step % 256])
            kv.put(k, v)
            seq += 1
            model[k], written[k] = v, seq
        elif op == 14:  # put_df with an in-batch duplicate: the last one wins
            batch = [(k, bytes([rng(256), i, step % 256])) for i in range(2)]
            batch.insert(1, (keys[rng(len(keys))], bytes([rng(256), 9, step % 256])))
            kv.put_df(spark.createDataFrame(batch, "key string, value binary"))
            seq += 1
            for x, v in batch:
                model[x], written[x] = v, seq
        elif op == 15:  # the second handle writes, whatever the fanout
            v = bytes([rng(256), step % 256, 7])
            other.put(k, v)
            seq += 1
            model[k], written[k] = v, seq
        elif op < 8:  # delete (missing-key delete still writes a tombstone)
            kv.delete(k)
            seq += 1
            model.pop(k, None)
        elif op == 8:
            prefix = ["k", "k1", "", "к"][rng(4)]
            doomed = [x for x in model if x.startswith(prefix)]
            assert kv.delete_prefix(prefix) == len(doomed)
            seq += bool(doomed)
            for x in doomed:
                del model[x]
        elif op == 9:
            cutoff = rng(seq + 2)
            stale = [x for x in model if written[x] < cutoff]
            assert kv.expire_older_than(cutoff) == len(stale)
            seq += bool(stale)
            for x in stale:
                del model[x]
        elif op == 10:
            kv.rebucket([1, 3, 8, 16][rng(4)])
        elif op == 11:
            kv.compact()
            seq = 1 if model else 0
            written = dict.fromkeys(model, 1)
        else:
            kv.evict(keep_latest=len(model) or 1)
            # evict(keep_latest=len(model)) keeps every LIVE key (it
            # drops oldest beyond the count); model unchanged
        written = {x: written[x] for x in model}
        spark_max = kv._log().agg(F.max("seq")).first()[0] or 0
        assert kv.current_seq() == spark_max == seq, step
        assert kv._get_spark(keys) == model, step
        assert kv.multi_get(keys) == model, step
        for x in keys:
            assert kv.exists(x) == (x in model), (step, x)
            if x in model:
                assert kv.get(x) == model[x], (step, x)
            else:
                with pytest.raises(KeyNotFound):
                    kv.get(x)
    live = {r["key"]: bytes(r["value"]) for r in kv.scan().collect()}
    assert live == model


def test_get_sees_another_handles_put(kv, spark):
    """A read after another handle's commit returns the new value: the
    file listing the direct read caches is shared by every handle and
    dropped by each commit, not kept per handle."""
    kv.put("k", b"from-a")
    assert kv.get("k") == b"from-a"
    other = KVStore(spark, name="test", num_buckets=8)
    other.put("k", b"from-b")
    other.put("new", b"fresh")
    assert kv.get("k") == b"from-b"
    assert kv.exists("new") and kv.multi_get(["k", "new"]) == {"k": b"from-b", "new": b"fresh"}
    other.delete("k")
    assert not kv.exists("k")


def test_get_uses_catalog_fanout_not_handles(kv, spark):
    """A handle opened with another fanout still finds every key: the
    direct read hashes with the catalog's bucket count, not the
    handle's ``num_buckets``."""
    pairs = [(f"key{i}", f"v{i}".encode()) for i in range(64)]
    kv.put_batch(pairs)
    wide = KVStore(spark, name="test", num_buckets=1024)
    assert all(wide.get(k) == v for k, v in pairs)
    assert all(wide.exists(k) for k, _ in pairs)
    assert wide.multi_get([k for k, _ in pairs] + ["absent"]) == dict(pairs)


def test_scan_as_of_reconstructs_history_until_compaction(spark):
    """MVCC contract: scan_as_of(S) replays the log to write S —
    overwrites undone, tombstones not yet written un-delete — and
    compaction is the one operation that discards that history."""
    from fairy_spark.kv import KVStore

    kv = KVStore(spark, name="asof_probe", num_buckets=4)
    kv.drop()
    kv.put_batch([("a", b"1"), ("b", b"2")])
    s1 = kv.current_seq()
    kv.put_batch([("a", b"9")])
    kv.delete_batch(["b"])
    s3 = kv.current_seq()

    snap1 = {r["key"]: bytes(r["value"]) for r in kv.scan_as_of(s1).collect()}
    assert snap1 == {"a": b"1", "b": b"2"}
    now = {r["key"]: bytes(r["value"]) for r in kv.scan().collect()}
    assert now == {"a": b"9"}
    assert {r["key"]: bytes(r["value"]) for r in kv.scan_as_of(s3).collect()} == now

    kv.compact()
    post = {r["key"]: bytes(r["value"]) for r in kv.scan_as_of(s1).collect()}
    assert post == {"a": b"9"}, "compaction must discard pre-compact history"
    kv.drop()


def test_delete_batch_empty_is_noop(kv):
    """ADVICE r5: delete_batch([]) must not burn a sequence number,
    launch an empty write job, or materialize a table that doesn't
    exist yet."""
    # On a store with no table at all: no table may appear.
    kv.delete_batch([])
    assert not kv._exists_table()
    kv.put("k", b"v")
    before = kv.current_seq()
    kv.delete_batch([])
    assert kv.current_seq() == before
    assert kv.get("k") == b"v"


def test_drop_deletes_only_the_catalog_resolved_location(kv, spark):
    """ADVICE r5: drop() resolves the managed table's real location
    from the catalog (not a blind {warehouse}/{name} guess) and clears
    exactly that path, so a later saveAsTable never hits
    LOCATION_ALREADY_EXISTS."""
    import os
    from urllib.parse import urlparse

    kv.put("k", b"v")
    loc_row = [
        r
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {kv.table}").collect()
        if r["col_name"] == "Location"
    ]
    assert loc_row, "managed kv table must expose a Location"
    local = urlparse(loc_row[0]["data_type"]).path
    assert os.path.exists(local)
    kv.drop()
    assert not os.path.exists(local)
    assert not spark.catalog.tableExists(kv.table)
    # recreate works cleanly after drop
    kv.put("k2", b"w")
    assert kv.get("k2") == b"w"


@pytest.fixture()
def kv_loc(spark, tmp_path):
    loc = str(tmp_path / "kv_durable")
    store = KVStore(spark, name="durable_test", num_buckets=4, location=loc)
    store.drop()
    yield store
    store.drop()
    spark.sql(f"DROP TABLE IF EXISTS {store.table}")


def test_location_store_survives_catalog_amnesia(kv_loc, spark):
    """The durable-log mode: DROP the catalog entry (what a driver
    restart does to the in-memory catalog) — a fresh handle over the
    same path re-registers the log with full history intact."""
    kv_loc.put("a", b"1")
    s1 = kv_loc.current_seq()
    kv_loc.put("a", b"2")
    kv_loc.put("b", b"3")
    kv_loc.delete("b")
    spark.sql(f"DROP TABLE {kv_loc.table}")  # simulated restart

    kv2 = KVStore(
        spark, name="durable_test", num_buckets=4, location=kv_loc.location
    )
    assert kv2.get("a") == b"2"
    with pytest.raises(KeyNotFound):
        kv2.get("b")
    # MVCC history crossed the restart too
    asof = {r["key"]: bytes(r["value"]) for r in kv2.scan_as_of(s1).collect()}
    assert asof == {"a": b"1"}


def test_location_store_compact_keeps_path_identity(kv_loc, spark):
    """compact() on a location-backed store must leave the live data
    at the SAME path (external renames don't move files — the swap is
    filesystem-level), so a post-compact restart still recovers."""
    import os

    for i in range(10):
        kv_loc.put_batch([(f"k{i}", f"v{i}".encode())])
    kv_loc.delete_batch(["k0", "k1"])
    kv_loc.compact()
    live = {r["key"]: bytes(r["value"]) for r in kv_loc.scan().collect()}
    assert live == {f"k{i}": f"v{i}".encode() for i in range(2, 10)}
    assert os.path.isdir(kv_loc.location)
    assert not os.path.exists(kv_loc.location.rstrip("/") + "__compact")
    # restart after compact
    spark.sql(f"DROP TABLE {kv_loc.table}")
    kv2 = KVStore(
        spark, name="durable_test", num_buckets=4, location=kv_loc.location
    )
    assert {r["key"]: bytes(r["value"]) for r in kv2.scan().collect()} == live


def test_location_store_recovers_interrupted_compact_rename(kv_loc, spark):
    """Hard-crash window: live dir deleted, snapshot dir not yet
    renamed in. A fresh handle must finish the rename and serve the
    compacted state."""
    import shutil

    kv_loc.put("x", b"old")
    kv_loc.put("x", b"new")
    kv_loc.put("y", b"keep")
    # manufacture the crash state: snapshot exists under __compact,
    # live dir gone, catalog entry gone
    kv_loc.compact()
    spark.sql(f"DROP TABLE {kv_loc.table}")
    tmp = kv_loc.location.rstrip("/") + "__compact"
    shutil.move(kv_loc.location, tmp)

    kv2 = KVStore(
        spark, name="durable_test", num_buckets=4, location=kv_loc.location
    )
    assert kv2.get("x") == b"new"
    assert kv2.get("y") == b"keep"


def test_location_store_drop_destroys_durable_log(kv_loc, spark):
    import os

    kv_loc.put("gone", b"soon")
    loc = kv_loc.location
    kv_loc.drop()
    assert not os.path.exists(loc)
    assert not os.path.exists(loc.rstrip("/") + "__compact")
    assert not spark.catalog.tableExists(kv_loc.table)


def test_expire_older_than_evicts_only_stale(kv):
    kv.put_batch([("a", b"1"), ("b", b"2"), ("c", b"3")])
    s1 = kv.current_seq()
    kv.put("a", b"1-refreshed")  # a is young again
    watermark = kv.current_seq()
    n = kv.expire_older_than(watermark)
    # b and c were last written before the watermark; a survives
    assert n == 2
    assert kv.get("a") == b"1-refreshed"
    with pytest.raises(KeyNotFound):
        kv.get("b")
    with pytest.raises(KeyNotFound):
        kv.get("c")
    assert {r["key"] for r in kv.keys().collect()} == {"a"}
    # eviction is VERSIONED: pre-expiry state still reconstructs
    asof = {r["key"]: bytes(r["value"]) for r in kv.scan_as_of(s1).collect()}
    assert asof == {"a": b"1", "b": b"2", "c": b"3"}


def test_expire_older_than_noop_when_nothing_stale(kv):
    kv.put("k", b"v")
    wm = kv.current_seq()
    assert kv.expire_older_than(wm) == 0  # k written AT the watermark
    assert kv.get("k") == b"v"
    # a second expiry after the tombstone-free no-op still sees k live
    assert kv.expire_older_than(wm) == 0


def test_multi_get_batched_lookup(kv):
    # one scan serves the batch; missing + tombstoned keys are absent
    kv.put_batch([("a", b"1"), ("b", b"2"), ("c", b"3")])
    kv.put("b", b"2v2")          # latest seq must win
    kv.delete("c")               # tombstone must be absent
    out = kv.multi_get(["a", "b", "c", "nope"])
    assert out == {"a": b"1", "b": b"2v2"}
    assert kv.multi_get([]) == {}


def test_multi_get_in_filter_in_plan(kv):
    # the Spark lookup's design point (_get_spark): the batch probe is
    # a single In filter on the key column (pushed to the bucketed
    # scan), not per-key jobs
    kv.put_batch([("a", b"1"), ("b", b"2")])
    from pyspark.sql import functions as F

    df = kv._log().filter(F.col("key").isin(["a", "b"]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "key#" in plan and " IN (a,b)" in plan, plan


def test_non_local_location_takes_the_spark_path(kv, monkeypatch):
    """The read path is chosen from the catalog location: a location
    with a non-local scheme (hdfs://, s3a://, ...) is served by the
    Spark lookup and never handed to pyarrow."""
    import fairy_spark.kv as kv_mod

    kv.put_batch([("a", b"1"), ("b", b"2")])
    kv.delete("b")
    info = kv._catalog_info()
    remote = {**info, "Location": f"hdfs://namenode:8020/warehouse/{kv.table}"}
    monkeypatch.setattr(KVStore, "_catalog_info", lambda self: remote)
    monkeypatch.setattr(kv_mod.pq, "read_table", lambda *a, **k: pytest.fail("direct read"))
    kv_mod._LISTINGS.pop(kv.table, None)
    assert kv.get("a") == b"1"
    assert not kv.exists("b")
    assert kv.multi_get(["a", "b", "c"]) == {"a": b"1"}
    # Writes take the Spark writer too, and current_seq a Spark query.
    monkeypatch.setattr(kv_mod, "_write_buckets", lambda *a, **k: pytest.fail("direct write"))
    monkeypatch.setattr(kv_mod.pq, "read_metadata", lambda *a, **k: pytest.fail("footer read"))
    seq = kv.current_seq()
    kv.put("c", b"3")
    kv.delete_batch(["a"])
    kv.put_df(kv.spark.createDataFrame([("d", b"4")], "key string, value binary"))
    assert kv.current_seq() == seq + 3
    assert kv.multi_get(["a", "b", "c", "d"]) == {"c": b"3", "d": b"4"}


def test_concurrent_gets_beside_puts_never_stale(kv):
    """Serving threads share the listing cache without a lock. Eight
    readers (more than the cores) get one key while the writer
    overwrites it; every read must return a version no older than the
    last put acknowledged before the read began."""
    import sys
    import threading

    kv.put("hot", b"0")
    acked = 0
    problems: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            floor = acked
            try:
                seen = int(kv.get("hot"))
            except Exception as e:  # a failed read is a finding, not a crash
                problems.append(e)
                return
            if seen < floor:
                problems.append((seen, floor))
                return

    readers = [threading.Thread(target=reader, daemon=True) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in readers:
            t.start()
        for version in range(1, 6):
            kv.put("hot", str(version).encode())
            acked = version
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers)
    assert not problems, problems[:3]
    assert kv.get("hot") == b"5"


def test_rebucket_preserves_state_and_history(kv):
    kv.put_batch([(f"k{i}", f"v{i}".encode()) for i in range(20)])
    s1 = kv.current_seq()
    kv.put("k3", b"v3-new")
    kv.delete("k7")
    kv.rebucket(32)
    assert kv.num_buckets == 32
    # current state survives the layout move
    assert kv.get("k3") == b"v3-new"
    assert kv.multi_get(["k1", "k7", "k19"]) == {"k1": b"v1", "k19": b"v19"}
    with pytest.raises(KeyNotFound):
        kv.get("k7")
    # MVCC history moved with the layout
    asof = {r["key"]: bytes(r["value"]) for r in kv.scan_as_of(s1).collect()}
    assert asof["k3"] == b"v3" and asof["k7"] == b"v7"
    # catalog really carries the new fanout
    nb = {
        r["col_name"]: r["data_type"]
        for r in kv.spark.sql(f"DESCRIBE TABLE EXTENDED {kv.table}").collect()
    }
    assert int(nb["Num Buckets"]) == 32


def test_rebucket_same_fanout_is_noop(kv):
    kv.put("a", b"1")
    kv.rebucket(kv.num_buckets)
    assert kv.get("a") == b"1"


def test_rebucket_point_lookup_still_bucket_pruned(kv, assert_one_bucket_read):
    kv.put_batch([(f"k{i}", b"x") for i in range(16)])
    kv.rebucket(4)
    assert_one_bucket_read(kv, "k5")


def test_rebucket_location_store_survives_restart(kv_loc, spark):
    kv_loc.put_batch([("a", b"1"), ("b", b"2")])
    kv_loc.put("a", b"3")
    kv_loc.rebucket(8)
    assert kv_loc.get("a") == b"3"
    spark.sql(f"DROP TABLE IF EXISTS {kv_loc.table}")  # catalog amnesia
    fresh = KVStore(
        spark, name="durable_test", num_buckets=8, location=kv_loc.location
    )
    assert fresh.get("a") == b"3"
    assert fresh.get("b") == b"2"


def test_rebucket_then_compact_composes(kv):
    kv.put_batch([(f"k{i}", b"x") for i in range(10)])
    kv.put("k0", b"y")
    kv.rebucket(16)
    kv.compact()
    assert kv.get("k0") == b"y"
    assert kv.scan().count() == 10
    assert kv._log().count() == 10  # compact folded history at new fanout


def test_rebucket_failure_after_swap_keeps_committed_fanout(
    kv, monkeypatch, assert_one_bucket_read
):
    # ADVICE r10: if _replace_with throws AFTER the new-layout table is
    # live (e.g. the trailing _bak DROP fails), the handle must adopt
    # the committed fanout, not roll back to the stale one.
    kv.put_batch([(f"k{i}", b"x") for i in range(12)])
    real = type(kv)._replace_with

    def swap_then_boom(self, snapshot):
        real(self, snapshot)
        raise RuntimeError("post-swap cleanup failed")

    monkeypatch.setattr(type(kv), "_replace_with", swap_then_boom)
    with pytest.raises(RuntimeError):
        kv.rebucket(16)
    monkeypatch.setattr(type(kv), "_replace_with", real)
    # fanout matches the on-disk layout → pruning and gets stay correct
    assert kv.num_buckets == 16
    assert kv.get("k5") == b"x"
    assert_one_bucket_read(kv, "k5")


def test_rebucket_failure_before_swap_rolls_back_fanout(kv, monkeypatch):
    kv.put_batch([("a", b"1"), ("b", b"2")])

    def boom(self, snapshot):
        raise RuntimeError("write failed before any swap")

    monkeypatch.setattr(type(kv), "_replace_with", boom)
    with pytest.raises(RuntimeError):
        kv.rebucket(16)
    monkeypatch.undo()
    # live table is still the old layout; handle must agree with it
    assert kv.num_buckets == kv._catalog_num_buckets(default=-1)
    assert kv.get("a") == b"1"


def test_delete_prefix_tombstones_only_matching_live_keys(kv):
    kv.put_batch([("a/1", b"x"), ("a/2", b"y"), ("b/1", b"z")])
    s1 = kv.current_seq()
    kv.delete("a/2")  # already dead — must not count again
    n = kv.delete_prefix("a/")
    assert n == 1
    assert kv.exists("b/1") and not kv.exists("a/1") and not kv.exists("a/2")
    # versioned: pre-delete state reconstructs
    asof = {r["key"] for r in kv.scan_as_of(s1).collect()}
    assert asof == {"a/1", "a/2", "b/1"}


def test_delete_range_half_open_and_empty_noop(kv):
    kv.put_batch([(f"{i:03d}", b"v") for i in range(10)])
    seq_before = kv.current_seq()
    assert kv.delete_range("007", "007") == 0
    assert kv.delete_range("009", "002") == 0
    assert kv.current_seq() == seq_before  # no seq burned on no-ops
    n = kv.delete_range("003", "007")
    assert n == 4  # 003,004,005,006 — end exclusive
    live = {r["key"] for r in kv.scan().collect()}
    assert live == {"000", "001", "002", "007", "008", "009"}


def _table_entries(kv) -> list[str]:
    """Every entry under the table directory, hidden ones included."""
    import os

    root = kv._listing().path
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    )


def _assert_write_left_nothing(kv, before, write_ids, values, seq) -> None:
    entries = _table_entries(kv)
    assert write_ids and not [e for e in entries for w in write_ids if w in e], entries
    assert entries == before
    assert kv.current_seq() == seq
    assert kv.multi_get(list(values)) == values
    assert kv._get_spark(list(values)) == values
    assert all(kv.get(k) == v for k, v in values.items())


def test_failed_driver_write_leaves_no_file(kv, monkeypatch):
    """A put_batch that fails after one of its bucket files was written
    removes every file of that write, hidden or visible: reads, the
    Spark lookup and current_seq all see the previous state."""
    import os

    import fairy_spark.kv as kv_mod

    values = {f"key{i}": f"v{i}".encode() for i in range(32)}
    kv.put_batch(list(values.items()))
    before, seq = _table_entries(kv), kv.current_seq()
    real, paths = kv_mod.pq.write_table, []

    def second_fails(table, where, **kw):
        paths.append(where)
        if len(paths) == 2:
            raise OSError("disk full")
        return real(table, where, **kw)

    monkeypatch.setattr(kv_mod.pq, "write_table", second_fails)
    with pytest.raises(OSError, match="disk full"):
        kv.put_batch([(k, b"lost") for k in values])
    write_ids = {os.path.basename(p).split("-")[2].split("_")[0] for p in paths}
    _assert_write_left_nothing(kv, before, write_ids, values, seq)


def test_failed_put_df_leaves_no_file(kv, spark, monkeypatch):
    """A put_df whose write tasks fail after staging their bucket files
    leaves no file of that write behind."""
    import fairy_spark.kv as kv_mod

    values = {f"key{i}": f"v{i}".encode() for i in range(64)}
    kv.put_df(spark.createDataFrame(list(values.items()), "key string, value binary"))
    before, seq = _table_entries(kv), kv.current_seq()
    real, write_ids = kv_mod._partition_writer, []

    def failing_writer(stage, write_id):
        write_ids.append(write_id)
        write = real(stage, write_id)

        def run(batches):
            staged = list(write(batches))
            if staged and staged[0].num_rows:
                raise RuntimeError("task failed after staging its files")
            yield from staged

        return run

    monkeypatch.setattr(kv_mod, "_partition_writer", failing_writer)
    with pytest.raises(Exception, match="task failed after staging"):
        kv.put_df(spark.createDataFrame([(k, b"lost") for k in values], "key string, value binary"))
    _assert_write_left_nothing(kv, before, write_ids, values, seq)


def test_put_df_writes_one_sorted_file_per_bucket(kv, spark, assert_one_bucket_read):
    """put_df writes at most one file per bucket, every row in the file
    of its bucket ``pmod(hash(key), n)``, sorted by key."""
    import os
    import re

    import pyarrow.parquet as pq

    kv.put_df(
        spark.createDataFrame([(f"doc-{i}", b"x" * i) for i in range(200)], "key string, value binary")
    )
    root = kv._listing().path
    files = [n for n in os.listdir(root) if not n.startswith((".", "_"))]
    assert 0 < len(files) <= 8
    for name in files:
        keys = pq.read_table(os.path.join(root, name), columns=["key"])["key"].to_pylist()
        assert keys == sorted(keys), name
    placed = (
        spark.read.parquet(root)
        .select(F.input_file_name().alias("f"), F.pmod(F.hash("key"), F.lit(8)).alias("b"))
        .collect()
    )
    assert len(placed) == 200
    assert all(int(re.search(r"_(\d+)\.c000", r["f"]).group(1)) == r["b"] for r in placed)
    assert_one_bucket_read(kv, "doc-7")


def test_local_writes_and_current_seq_start_no_spark_job(kv, spark):
    """On a local store put, put_batch, delete_batch and current_seq
    run no Spark job, the first write (which creates the table)
    included."""
    sc = spark.sparkContext
    sc.setJobGroup("kv-no-job", "direct writes")
    try:
        kv.put("a", b"1")
        kv.put_batch([("b", b"2"), ("c", b"3")])
        kv.delete_batch(["a", "zz"])
        seq = kv.current_seq()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("kv-no-job")) == []
    assert seq == 3
    assert kv.multi_get(["a", "b", "c"]) == {"b": b"2", "c": b"3"}
