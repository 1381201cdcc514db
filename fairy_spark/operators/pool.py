"""One bounded FIFO of persisted intermediate frames.

The optimization rounds' recompute-amplification fix (guide §1.2 step 1,
§2.4, §5): several operators build an expensive frame that feeds
MULTIPLE join branches of one query — the cleaned corpus in the
pretraining pipeline, the co-purchase pair set in the triangle queries,
the winnow fingerprint explode. Catalyst evaluates each branch
independently (exchange reuse only fires when two byte-identical
exchanges survive planning), so without a materialization boundary the
subtree re-executes once per branch — measured 10,780 parquet scans in
ONE declarative-pipeline plan and 66 lineitem scans per triangle query
before r14.

A boundary takes one of two forms, chosen per site by the frame's
LINEAGE SIZE (measured trade-off, r14):

- ``park_persisted(df)`` — ``persist`` + eager count. The
  InMemoryRelation carries accurate post-materialization size
  statistics, so Catalyst still plans broadcast joins over the frame
  (winnow's pair self-join measured 1.3 s persisted vs 28 s
  checkpointed, purely from BHJ → SMJ demotion against a
  statistics-less leaf). Right for frames whose logical plan is small.
- ``df.localCheckpoint(eager=True)`` — the plan is CUT to a LogicalRDD
  leaf and the CacheManager is never touched. Right for lineage-heavy
  frames (the pipeline's cleaned corpus nests the whole
  connected-components loop): persisting those registers a
  multi-thousand-node plan that every later action in the SESSION pays
  canonicalization/comparison against (measured 51 s → 144 s on an
  unrelated query that merely ran after one). Sites call it directly:
  the downstream plan's LogicalRDD holds the checkpointed RDD, and the
  ContextCleaner frees its blocks once no plan references it, so there
  is nothing for a pool to track.

The rule for persisted frames: every one joins a single process-wide
FIFO, and past ``_CAP`` frames the oldest is unpersisted. An evicted
frame that is still in use is recomputed from its lineage — a cost,
never a wrong answer. This is NOT cross-run result caching: every query
invocation materializes its OWN freshly-built frame, and the eager
materialization runs inside the bench's timed window.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_CAP = 32
_LOCK = threading.Lock()
_PERSISTED: list[DataFrame] = []


def park_persisted(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK, materialized by one count unless
    it is already cached), append it to the FIFO and unpersist the
    oldest frame past ``_CAP``; returns ``df``."""
    if not df.is_cached:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
    with _LOCK:
        _PERSISTED.append(df)
        while len(_PERSISTED) > _CAP:
            _PERSISTED.pop(0).unpersist(blocking=False)
    return df


def clear_pool() -> None:
    """Unpersist every frame in the FIFO (test and bench hygiene)."""
    with _LOCK:
        while _PERSISTED:
            _PERSISTED.pop().unpersist(blocking=False)
