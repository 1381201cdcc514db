"""Query registry — THE CONTRACT surface (SURVEY.md §2.B).

Every implemented operator is declared here as a named query:
  * a Spark callable ``(spark, sf_dir) -> DataFrame``
  * an equivalent ANSI-SQL string for the DuckDB oracle (or None for
    genuinely non-SQL-expressible ops → rows-only check).

``__spark_entry__.py`` re-exports this registry to the driver; the
pytest suite runs the same comparison locally at sf0.01.

Discipline (FIXTURES.md oracle conventions): every computed column is
aliased identically on both sides; doubles are rounded in-query on
both sides so value hashes align; collect_list is always sort_array-
wrapped; no query depends on partition-order nondeterminism.

Order is registration order: modules import in ``_load_all``'s order,
so ``relational``'s first row, the flagship ``q1_pricing_summary``,
comes first.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        assert name not in QUERIES, f"duplicate query name {name}"

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Ship the package to Python workers first: UDF-bearing
            # queries crash with ModuleNotFoundError on any driver
            # whose cwd isn't the repo root otherwise (shipping.py).
            from fairy_spark.shipping import ensure_package_shipped

            ensure_package_shipped(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from fairy_spark.queries import (  # noqa: F401
        relational,
        joins,
        aggregates,
        windows,
        setops,
        functions_sql,
        subqueries,
        sources_io,
        sampling_misc,
        tpch_like,
        llm,
        streaming_batch,
        udfs_mm,
        graph,
        analytics,
        stats,
        geo,
    )
    # streaming_exec reuses streaming_batch's oracle strings, so it
    # must import after streaming_batch has registered them.
    from fairy_spark.queries import streaming_exec  # noqa: F401


_load_all()
