"""Skew-aware join: salting (SURVEY.md §4.2; brief: 'skewed keys → salting
or AQE skew-join').

AQE's skew-join split handles most skew at runtime, but it only splits
SORT-MERGE join partitions — a hash-partitioned aggregation or a
shuffle-hash join over a power-law key (one user emits 10% of all
events) still lands one monster task. Salting is the static fix: widen
the hot key space by a salt factor on the big side, replicate the
small side once per salt value, join on (key, salt). Result set is
IDENTICAL to the unsalted join (the salt never survives the join), so
the DuckDB oracle checks it like any other join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join big⋈small on `on`, with the big side's shuffle spread
    over n_salt× more partitions per key.

    The salt is derived from the big row's partition+offset (via
    spark_partition_id + a per-partition counter through
    monotonically_increasing_id): it distributes uniformly, never
    appears in the output, and its exact values can't affect the
    result — only the shuffle layout. The small side is exploded
    n_salt× (acceptable: salting targets big⋈small; for big⋈big skew
    use AQE's skew-join, which splits SMJ partitions natively).

    Only inner and left joins are semantics-preserving: an outer
    small side would emit each UNMATCHED small row once per salt
    replica, silently diverging from the unsalted join.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join preserves semantics only for inner/left joins, got {how!r}: "
            "the exploded small side replicates unmatched rows n_salt times "
            "under right/full outer semantics"
        )
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salt)).alias("_salt")
    b = big.withColumn("_salt", salt)
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    return b.join(s, [on, "_salt"], how).drop("_salt")


# Estimated input bytes per task when a frame is smaller than one scan
# split; measured at sf0.1 (5k docs, 584 KB parquet): shingling width
# 16 ≈ 0.52 s vs width 32 ≈ 0.59 s vs width 1 ≈ 1.43 s.
_SPREAD_BYTES = 48 * 1024


def spread_width(df: DataFrame) -> int | None:
    """Scale-adaptive partition width for spreading a per-row compute
    pass (Python mapInPandas shingling/hashing, interpreted HOF
    scoring) over a frame that may arrive as a single small scan split.

    Replaces the former ``repartition(defaultParallelism)`` constant —
    exactly the local-mode-tuned knob guide §2 warns about. The width
    is derived from the optimizer's size estimate for ``df``:

        width = min(defaultParallelism, ceil(size / _SPREAD_BYTES))

    and the function returns None (caller skips the repartition
    entirely) when the scan's own estimated split count
    (size / spark.sql.files.maxPartitionBytes) already reaches that
    width — at 100 TB the scan splits spread the work by themselves
    and a round-robin reshuffle of the whole corpus before the Python
    pass would be pure shuffle cost (guide §2.4 "remove shuffles
    outright"). For any estimate the optimizer can't ground (the
    8 EiB unknown-stats sentinel), falls back to the legacy
    defaultParallelism width rather than guessing.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return par
    if size <= 0 or size >= (1 << 60):
        return par
    width = min(par, max(1, -(-size // _SPREAD_BYTES)))
    max_split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    est_splits = -(-size // max_split)
    if est_splits >= width:
        return None
    return width
