"""The persisted-frame FIFO (operators/pool.py) and the lifetime rule
it rests on: a persisted frame keeps its statistics and values, the
FIFO unpersists its oldest frame past ``_CAP`` (a recompute, never a
wrong answer), and a ``localCheckpoint(eager=True)`` frame needs no
pool reference because the downstream plan holds it."""

from __future__ import annotations

import gc
import time

from pyspark.sql import functions as F

from fairy_spark.operators import pool as pool_mod
from fairy_spark.operators.pool import clear_pool, park_persisted


def _vals(df):
    return sorted(map(tuple, df.collect()))


def _cached_rdds(spark) -> dict[int, int]:
    """RDD id -> cached partition count, from the block manager."""
    return {
        info.id(): info.numCachedPartitions()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _jvm_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def test_persist_mode_preserves_values_and_is_cached(spark):
    try:
        df = spark.range(100).withColumn("v", F.col("id") * 2)
        parked = park_persisted(df)
        assert _vals(parked) == _vals(df)
        assert parked.storageLevel.useMemory  # really persisted
        # an already-cached frame is appended as is, not persisted again
        assert park_persisted(parked) is parked
        assert pool_mod._PERSISTED[-2:] == [parked, parked]
    finally:
        clear_pool()


def test_local_checkpoint_frame_lives_through_downstream_plan(spark):
    """The claim checkpoint sites rely on instead of a pool reference:
    a frame cut by localCheckpoint(eager=True) and reachable only
    through a downstream frame keeps its cached partitions through
    Python and JVM garbage collection, and the downstream frame
    collects correctly from it."""
    before = set(_cached_rdds(spark))
    src = spark.range(0, 1000, 1, numPartitions=2).withColumn("v", F.col("id") % 7)
    cut = src.localCheckpoint(eager=True)
    # lineage is cut: the logical plan is a scan of materialized
    # partitions, not the original Range + Project chain
    assert "LogicalRDD" in cut._jdf.queryExecution().logical().toString()
    (rdd_id,) = set(_cached_rdds(spark)) - before
    down = cut.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    del cut
    for _ in range(3):
        _jvm_gc(spark)
        time.sleep(0.5)
    assert _cached_rdds(spark).get(rdd_id) == 2
    expected = sorted((v, len(range(v, 1000, 7))) for v in range(7))
    assert _vals(down) == expected
    assert _cached_rdds(spark).get(rdd_id) == 2
    # with the downstream frame gone too, the ContextCleaner frees the
    # blocks — so the same collections above could have freed them
    del down
    for _ in range(20):
        _jvm_gc(spark)
        if rdd_id not in _cached_rdds(spark):
            break
        time.sleep(0.5)
    assert rdd_id not in _cached_rdds(spark)


def test_pool_eviction_is_bounded_and_fifo(spark, monkeypatch):
    monkeypatch.setattr(pool_mod, "_CAP", 2)
    try:
        clear_pool()
        frames = [park_persisted(spark.range(10 + i)) for i in range(4)]
        assert pool_mod._PERSISTED == frames[2:]
        # oldest two evicted and unpersisted; newest two still cached
        assert not frames[0].storageLevel.useMemory
        assert not frames[1].storageLevel.useMemory
        assert frames[2].storageLevel.useMemory
        assert frames[3].storageLevel.useMemory
        # evicted frames still produce correct values (recompute path)
        assert _vals(frames[0]) == [(i,) for i in range(10)]
        assert _vals(frames[1]) == [(i,) for i in range(11)]
    finally:
        clear_pool()


def test_global_cap_evicts_oldest_other_pool_first(spark, monkeypatch):
    """Past the global cap, the frame an earlier invocation parked is
    unpersisted first; the current invocation keeps its own frames."""
    monkeypatch.setattr(pool_mod, "_CAP", 3)
    try:
        clear_pool()
        old = park_persisted(spark.range(5))
        cur = [park_persisted(spark.range(20 + i)) for i in range(3)]
        # total would be 4 > cap 3: the OLD frame is evicted, never one
        # of the current invocation's frames
        assert not old.storageLevel.useMemory
        assert all(f.storageLevel.useMemory for f in cur)
        assert pool_mod._PERSISTED == cur
        assert _vals(old) == [(i,) for i in range(5)]
    finally:
        clear_pool()


def test_clear_pool_all(spark):
    a = park_persisted(spark.range(5))
    b = park_persisted(spark.range(6))
    clear_pool()
    assert pool_mod._PERSISTED == []
    assert not a.storageLevel.useMemory
    assert not b.storageLevel.useMemory


def test_interleaved_scopes_keep_all_parked_frames_live(spark):
    """VERDICT r14 #7: two interleaved 'query invocations' parking
    frames must not evict each other's frames while the FIFO holds
    fewer than ``_CAP`` frames."""
    try:
        clear_pool()
        query_a = [park_persisted(spark.range(10 + i)) for i in range(3)]
        # an interleaved second invocation parks more than the old
        # per-name cap of 4 between query A's parks
        query_b = [park_persisted(spark.range(50 + i)) for i in range(5)]
        query_a.append(park_persisted(spark.range(99)))
        assert len(query_a) + len(query_b) < pool_mod._CAP
        assert all(f.storageLevel.useMemory for f in query_a + query_b)
    finally:
        clear_pool()
