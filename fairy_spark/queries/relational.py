"""Scan / project / filter / dedup queries (SURVEY.md §2.B scans + predicates).

Flagship is the TPC-H Q1 pricing-summary shape: parquet scan → pushed
filter → hash agg (map-side partial) → sort. One shuffle on the
two low-cardinality group keys; at 100 TB this stays a scan-bound
plan, which is the right plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from fairy_spark.queries import register
from fairy_spark.sources.tables import load_table


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 6)                                        AS sum_qty,
      SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0        AS sum_base_price,
      SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0
                                                                       AS sum_disc_price,
      SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) AS BIGINT)) / 10000.0
                                                                       AS sum_charge,
      ROUND(AVG(l_quantity), 6)                                        AS avg_qty,
      ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(*), 6)
                                                                       AS avg_price,
      ROUND(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(*), 6)
                                                                       AS avg_disc,
      COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape. Money aggregates sum FIXED-POINT INTEGERS
    (cents for 2-decimal sources, 1e-4 units for derived products) and
    divide back once: a ~1e10 double sum's accumulation-order
    divergence between engines exceeds 6-decimal rounding at sf0.1+,
    while integer summation is order-free and the final division of
    the same integer yields the same double everywhere. Quantity sums
    stay plain (integral doubles sum exactly)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    disc_cents = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    disc_price_u = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    charge_u = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 10000,
        0,
    ).cast("bigint")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            (F.sum(cents) / 100.0).alias("sum_base_price"),
            (F.sum(disc_price_u) / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_u) / 10000.0).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.sum(cents) / 100.0 / n, 6).alias("avg_price"),
            F.round(F.sum(disc_cents) / 100.0 / n, 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "scan_count",
    oracle="SELECT COUNT(*) AS n FROM lineitem",
)
def scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@register(
    "project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 6) AS net_price
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate IS NOT NULL
    ORDER BY l_orderkey, l_linenumber
    """,
)
def project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_quantity").between(10, 20)
            & F.col("l_returnflag").isin("A", "R")
            & F.col("l_shipdate").isNotNull()
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("net_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "case_when_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_final
    FROM orders
    WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
    ORDER BY o_orderkey
    """,
)
def case_when_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").like("1%") | F.col("o_orderpriority").like("2%"))
        .select(
            "o_orderkey",
            # FLOOR on both sides: Spark's double→bigint cast truncates
            # while DuckDB's rounds, so the cast must be made explicit.
            F.floor(F.col("o_totalprice")).cast("bigint").alias("price_int"),
            F.when(F.col("o_totalprice") >= 300000, "high")
            .when(F.col("o_totalprice") >= 100000, "mid")
            .otherwise("low")
            .alias("price_band"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_final"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "dedup_exact_rows",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
    FROM lineitem
    WHERE l_quantity > 45
    ORDER BY l_returnflag, l_linestatus, l_shipdate
    """,
)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select("l_returnflag", "l_linestatus", "l_shipdate")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
    )


@register(
    "limit_offset_page",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    ORDER BY p_name, p_partkey
    LIMIT 20 OFFSET 35
    """,
)
def limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A17 readdir pagination generalized: deterministic ORDER BY + page.
    p = load_table(spark, sf_dir, "part")
    return (
        p.select("p_partkey", "p_name")
        .orderBy("p_name", "p_partkey")
        .offset(35)
        .limit(20)
    )


@register(
    "kv_point_get",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS key, text AS value
    FROM documents
    WHERE doc_id = 42
    ORDER BY key
    """,
)
def kv_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV get as a relational point lookup (A2): key-equality filter on
    the key column; on a bucketed store this prunes to one bucket."""
    docs = load_table(spark, sf_dir, "documents")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("text").alias("value"),
    )
    return kv.filter(F.col("key") == "42").orderBy("key")


@register(
    "kv_bucket_layout",
    oracle="""
    SELECT ((hash(CAST(doc_id AS VARCHAR)) % 16) + 16) % 16 IS NOT NULL AS dummy_true,
           COUNT(*) AS n_keys
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def kv_bucket_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4 short_hash%num_bucket placement: hash functions differ
    across engines, so the oracle checks the invariant (every key maps
    to a bucket) rather than specific bucket ids."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.pmod(F.hash(F.col("doc_id").cast("string")), F.lit(16)).alias("bucket")
        )
        .select(F.col("bucket").isNotNull().alias("dummy_true"))
        .groupBy("dummy_true")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("dummy_true")
    )


@register(
    "merge_upsert",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, 42.5, 'I'
      FROM orders WHERE o_orderkey % 101 = 0
    ), merged AS (
      SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                  ELSE t.o_totalprice END AS o_totalprice,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                  ELSE t.o_orderstatus END AS o_orderstatus
      FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
    )
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM merged
    GROUP BY status
    ORDER BY status
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over plain parquet (operators/merge.py):
    matched keys update wholesale from the source, unmatched source keys
    insert, the rest pass through — one full-outer join on the key. The
    source batch is derived deterministically from orders (a price
    correction slice + a synthetic insert slice), and the merged table
    is aggregated by status so the oracle checks update, insert, and
    pass-through rows in one result."""
    from fairy_spark.operators.merge import merge_upsert as do_merge

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    inserts = o.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit(42.5).alias("o_totalprice"),
        F.lit("I").alias("o_orderstatus"),
    )
    merged = do_merge(o, updates.unionByName(inserts), key="o_orderkey")
    # Sum integer CENTS, not doubles: a ~1e10 float sum's accumulation-
    # order divergence between engines exceeds 1e-6 rounding, but the
    # per-value cents conversion is exact (stored doubles never sit on
    # a .5-cent midpoint) and integer summation is order-free.
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return (
        merged.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("total_cents"),
        )
        .orderBy("status")
    )


@register(
    "kv_prefix_scan",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS key,
           CAST(LENGTH(text) AS BIGINT) AS n_bytes
    FROM documents
    WHERE CAST(doc_id AS VARCHAR) LIKE '12%'
    ORDER BY key
    """,
)
def kv_prefix_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV prefix scan — the FUSE readdir analog (SURVEY §2.A A17,
    fuse/src/uring_fuse/uring_fs/mod.rs:116-166): list every key under
    a prefix with its payload size. ``startswith`` compiles to a
    StringStartsWith filter pushed into the parquet scan, so on a real
    bucketed store the listing is served from column min/max stats and
    dictionary pages, not a full key sweep — the same reason the
    reference's readdir reads one directory, not the whole tree."""
    docs = load_table(spark, sf_dir, "documents")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("text").alias("value"),
    )
    return (
        kv.filter(F.col("key").startswith("12"))
        .select("key", F.length("value").cast("bigint").alias("n_bytes"))
        .orderBy("key")
    )


@register(
    "merge_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), log AS (
      SELECT o_orderkey, 1 AS seq, 'U' AS op, 'U1' AS status,
             cents + 1000 AS cents
      FROM base WHERE o_orderkey % 10 IN (0, 1)
      UNION ALL
      SELECT o_orderkey, 2, 'U', 'U2', cents + 2000
      FROM base WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 1, 'D', NULL, NULL
      FROM base WHERE o_orderkey % 10 IN (2, 3)
      UNION ALL
      SELECT o_orderkey + 1000000000, 1, 'I', 'N', cents + 5
      FROM base WHERE o_orderkey % 10 = 4
    ), latest AS (
      SELECT o_orderkey, op, status, cents
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM log)
      WHERE rn = 1
    ), applied AS (
      SELECT CASE WHEN s.op IS NOT NULL THEN s.status
                  ELSE t.status END AS status,
             CASE WHEN s.op IS NOT NULL THEN s.cents
                  ELSE t.cents END AS cents
      FROM base t FULL OUTER JOIN latest s
        ON t.o_orderkey = s.o_orderkey
      WHERE s.op IS NULL OR s.op != 'D'
    )
    SELECT status, COUNT(*) AS n,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM applied GROUP BY status ORDER BY status
    """,
)
def merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture log application (operators/merge.apply_cdc)
    — the change-feed replay a table-format consumer runs: per key the
    highest-seq entry wins (superseding an earlier same-key update), a
    final 'D' deletes, 'I'/'U' replace-or-create, untouched snapshot
    rows pass through. The log is derived deterministically from
    orders (two-version updates for %10==0 keys so latest-wins is
    actually exercised, single updates, deletes, and out-of-keyspace
    inserts); money is integer cents end-to-end. The applied table is
    aggregated by status so update/supersede/delete/insert/passthrough
    rows all land in distinct oracle-checked groups. Plan: one
    map-side-combinable max_by collapse + one full-outer key join —
    shuffles on the key only, exchange-free when snapshot and log are
    bucketed on the key."""
    from fairy_spark.operators.merge import apply_cdc

    key = F.col("o_orderkey")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    # ONE scan derives all four log branches (a 4-way filter union
    # would rescan orders per branch): each row emits an array of
    # conditional entry structs, nulls compacted away, then explodes.
    def entry(pred, seq, op, status, cents, keyshift=0):
        return F.when(
            pred,
            F.struct(
                (key + F.lit(keyshift)).alias("o_orderkey"),
                F.lit(seq).cast("bigint").alias("seq"),
                F.lit(op).alias("op"),
                (F.lit(status) if status is not None
                 else F.lit(None)).cast("string").alias("status"),
                (F.col("cents") + F.lit(cents) if cents is not None
                 else F.lit(None)).cast("bigint").alias("cents"),
            ),
        )
    entries = F.array_compact(
        F.array(
            entry((key % 10) <= 1, 1, "U", "U1", 1000),
            entry((key % 10) == 0, 2, "U", "U2", 2000),
            entry((key % 10).isin(2, 3), 1, "D", None, None),
            entry((key % 10) == 4, 1, "I", "N", 5, keyshift=1000000000),
        )
    )
    log = base.select(F.explode(entries).alias("e")).select("e.*")
    applied = apply_cdc(base, log, key="o_orderkey")
    return (
        applied.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents"))
        .orderBy("status")
    )


@register(
    "merge_scd2",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_mktsegment, c_nationkey,
             TIMESTAMP '2024-01-01 00:00:00' AS valid_from
      FROM customer
    ), upd AS (
      SELECT c_custkey, c_mktsegment || '-v2' AS c_mktsegment, c_nationkey,
             TIMESTAMP '2024-06-01 00:00:00' AS eff
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_nationkey, TIMESTAMP '2024-06-01 00:00:00'
      FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
      UNION ALL
      SELECT c_custkey + 9000000, 'new-seg', 0, TIMESTAMP '2024-06-01 00:00:00'
      FROM customer WHERE c_custkey % 11 = 0
    ), j AS (
      SELECT t.c_custkey, t.c_mktsegment, t.c_nationkey, t.valid_from,
             s.c_custkey AS s_key, s.c_mktsegment AS s_addr,
             s.c_nationkey AS s_nat, s.eff,
             (s.c_custkey IS NOT NULL AND (
               NOT (t.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment)
               OR NOT (t.c_nationkey IS NOT DISTINCT FROM s.c_nationkey))) AS chg
      FROM cur t LEFT JOIN upd s ON t.c_custkey = s.c_custkey
    ), existing AS (
      SELECT c_custkey, c_mktsegment, c_nationkey, valid_from,
             CASE WHEN chg THEN eff ELSE CAST(NULL AS TIMESTAMP) END AS valid_to,
             NOT chg AS is_current
      FROM j
    ), reopened AS (
      SELECT c_custkey, s_addr AS c_mktsegment, s_nat AS c_nationkey,
             eff AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
             TRUE AS is_current
      FROM j WHERE chg
    ), fresh AS (
      SELECT u.c_custkey, u.c_mktsegment, u.c_nationkey,
             u.eff AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to,
             TRUE AS is_current
      FROM upd u LEFT JOIN cur t ON u.c_custkey = t.c_custkey
      WHERE t.c_custkey IS NULL
    )
    SELECT * FROM (
      SELECT * FROM existing
      UNION ALL SELECT * FROM reopened
      UNION ALL SELECT * FROM fresh
    )
    ORDER BY c_custkey, valid_from
    """,
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension maintenance
    (operators/merge.py::scd2_apply): changed attributes close the old
    version and open a new one at the effective timestamp, unchanged
    update rows cause NO churn version (null-safe comparison), new
    keys open their first version, untouched keys pass through. The
    update batch is carved deterministically from customer: a changed-
    segment slice (%7), a no-op slice (%5, same attrs), and a
    brand-new-key slice (%11). Both maintenance joins shuffle on the
    key only — bucket the dimension on it and the pass is
    exchange-free."""
    from fairy_spark.operators.merge import scd2_apply

    c = load_table(spark, sf_dir, "customer")
    cur = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
    )
    eff = F.lit("2024-06-01 00:00:00").cast("timestamp")
    changed = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit("-v2")).alias("c_mktsegment"),
            "c_nationkey",
            eff.alias("eff"),
        )
    )
    noop = (
        c.filter((F.col("c_custkey") % 5 == 0) & (F.col("c_custkey") % 7 != 0))
        .select("c_custkey", "c_mktsegment", "c_nationkey", eff.alias("eff"))
    )
    fresh = (
        c.filter(F.col("c_custkey") % 11 == 0)
        .select(
            (F.col("c_custkey") + 9000000).alias("c_custkey"),
            F.lit("new-seg").alias("c_mktsegment"),
            F.lit(0).alias("c_nationkey"),
            eff.alias("eff"),
        )
    )
    upd = changed.unionByName(noop).unionByName(fresh)
    out = scd2_apply(
        cur, upd, key="c_custkey", eff_col="eff",
        attr_cols=["c_mktsegment", "c_nationkey"],
    )
    return out.orderBy("c_custkey", "valid_from")


@register(
    "kv_range_scan",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS key,
           CAST(LENGTH(text) AS BIGINT) AS n_bytes
    FROM documents
    WHERE CAST(doc_id AS VARCHAR) >= '150'
      AND CAST(doc_id AS VARCHAR) < '250'
    ORDER BY key
    """,
)
def kv_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV half-open range scan [lo, hi) — the LSM iterator / seek
    surface next to kv_prefix_scan's readdir (SURVEY §2.A A17). The
    two bound predicates compile to GreaterThanOrEqual/LessThan
    filters pushed into the scan, so on a sorted-bucketed store the
    range is served from column min/max stats: files wholly outside
    [lo, hi) are skipped without reading a page — the same reason an
    LSM iterator touches only the SSTables whose key range overlaps
    the seek window."""
    docs = load_table(spark, sf_dir, "documents")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("text").alias("value"),
    )
    return (
        kv.filter((F.col("key") >= "150") & (F.col("key") < "250"))
        .select("key", F.length("value").cast("bigint").alias("n_bytes"))
        .orderBy("key")
    )


_MULTI_GET_KEYS = [42, 123, 1234, 2048, 4242, 5001, 999999999]


@register(
    "kv_multi_get",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS key,
           text AS value
    FROM documents
    WHERE doc_id IN ({", ".join(str(k) for k in _MULTI_GET_KEYS)})
    ORDER BY key
    """,
)
def kv_multi_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED point lookups — the reference's get path
    (worker/src/kv_store/local_file_kv_store.rs:49-60) generalized
    from one key to a key set, the multi-get RPC every KV client
    batches into (VERDICT r9 #8a). One scan serves the whole batch:
    the literal key set compiles to a single `In` filter pushed into
    the parquet scan (asserted in tests/test_plans.py — the probe is
    against the NATIVE key column; filtering a cast-derived key would
    silently forfeit pushdown, which is the design point), and the
    scan serves it from row-group statistics — dictionary pages and
    column min/max (plus Bloom filters on stores that write them)
    skip every row group containing none of the probed keys, so a
    B-key batch costs ~the row groups that actually hold hits, not B
    separate scans and not a full pass. Missing keys (the 999999999
    probe) simply produce no row — multi-get is a filter, not an
    outer join, so absence needs no tombstone handling. On the
    bucketed store the same predicate prunes to ≤B buckets
    (kv_point_get's A2 pruning, paid once per batch)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id").isin(_MULTI_GET_KEYS))
        .select(
            F.col("doc_id").cast("string").alias("key"),
            F.col("text").alias("value"),
        )
        .orderBy("key")
    )


@register(
    "kv_time_travel",
    oracle="""
    WITH snap1 AS (
      SELECT CAST(doc_id AS VARCHAR) AS k, text AS v
      FROM documents WHERE doc_id < 100
    ), cur AS (
      SELECT CAST(doc_id AS VARCHAR) AS k,
             CASE WHEN doc_id < 50 THEN upper(text) ELSE text END AS v
      FROM documents
      WHERE doc_id < 100 AND NOT (doc_id BETWEEN 50 AND 59)
    )
    SELECT 'asof' AS phase, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT) AS checksum
    FROM snap1
    UNION ALL
    SELECT 'current', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT)
    FROM cur
    ORDER BY phase
    """,
)
def kv_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVCC time travel on the REAL append-only KV store (kv.py — the
    first registry query to drive the store itself, not its
    relational model): 100 documents are ingested (seq 1), half are
    overwritten and ten tombstoned (seq 2-3), then scan_as_of(seq 1)
    must reconstruct the pre-overwrite state EXACTLY while scan()
    reflects the final state — both hash-checked against the oracle's
    independently-derived snapshots via the portable content
    checksum. This is the capability an append+seq log gives for
    free (the LSM design's payoff beyond crash recovery): historical
    reads are a seq predicate pushed to the scan, no snapshot copies.
    Scale: both views are one latest-wins hash agg over the bucketed
    log — bucket-local, shuffle-free; the checksum is an
    order-independent exact bigint sum."""
    from fairy_spark.kv import KVStore
    from fairy_spark.operators.text import portable_hash64

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").cast("string").alias("key"),
            F.encode(F.col("text"), "UTF-8").alias("value"),
            F.col("doc_id").alias("did"),
            F.col("text"),
        )
    )
    kv = KVStore(spark, name="time_travel_probe", num_buckets=8)
    kv.drop()
    kv.put_df(docs.select("key", "value"))
    s1 = kv.current_seq()
    kv.put_df(
        docs.filter(F.col("did") < 50).select(
            "key", F.encode(F.upper(F.col("text")), "UTF-8").alias("value")
        )
    )
    kv.delete_batch([str(i) for i in range(50, 60)])

    def checksum(df: DataFrame, phase: str) -> DataFrame:
        kv_str = F.concat(F.col("key"), F.lit(":"), F.col("value").cast("string"))
        return df.agg(
            F.count(F.lit(1)).alias("n_keys"),
            # Σ of 60-bit hashes overflows long past ~8 rows: widen to
            # decimal, fold back with a modulus (DuckDB widens to
            # HUGEINT implicitly; the mod keeps both in bigint range)
            (F.sum(portable_hash64(kv_str).cast("decimal(38,0)"))
             % 1000000000000000)
            .cast("bigint")
            .alias("checksum"),
        ).select(F.lit(phase).alias("phase"), "n_keys", "checksum")

    return (
        checksum(kv.scan_as_of(s1), "asof")
        .unionAll(checksum(kv.scan(), "current"))
        .orderBy("phase")
    )


@register(
    "kv_rebucket",
    oracle="""
    WITH snap1 AS (
      SELECT CAST(doc_id AS VARCHAR) AS k, text AS v
      FROM documents WHERE doc_id < 80
    ), cur AS (
      SELECT CAST(doc_id AS VARCHAR) AS k,
             CASE WHEN doc_id < 40 THEN upper(text) ELSE text END AS v
      FROM documents
      WHERE doc_id < 80 AND NOT (doc_id BETWEEN 40 AND 49)
    )
    SELECT 'asof' AS phase, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT) AS checksum
    FROM snap1
    UNION ALL
    SELECT 'current', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT)
    FROM cur
    UNION ALL
    SELECT 'layout', (SELECT COUNT(*) FROM cur), 16
    ORDER BY phase
    """,
)
def kv_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-fanout migration on the REAL store (kv.py::rebucket):
    the reference's ``num_bucket`` setting (local_kv_options.rs:23)
    fixes every blob's placement dir at write time
    (local_file_kv_store.rs:62-70 ``hash % num_bucket``), so changing
    it would strand every existing key in the wrong bucket — the
    classic resharding problem. Here: ingest 80 docs at fanout 4,
    overwrite half, tombstone ten, then ``rebucket(16)`` — ONE
    bucketBy shuffle of the log into the new layout behind the
    compact() swap discipline. The oracle pins that BOTH the current
    state AND the pre-overwrite MVCC snapshot (scan_as_of across the
    migration — history must move with the layout) hash-match the
    independently derived states, and the 'layout' row pins the
    catalog's post-migration bucket count to literal 16 — a rebucket
    that silently kept the old layout fails structurally. Scale:
    O(store) one-shuffle migration, exactly what an operator does to
    a 100 TB store when key cardinality outgrows the fanout."""
    from fairy_spark.kv import KVStore
    from fairy_spark.operators.text import portable_hash64

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select(
            F.col("doc_id").cast("string").alias("key"),
            F.encode(F.col("text"), "UTF-8").alias("value"),
            F.col("doc_id").alias("did"),
            F.col("text"),
        )
    )
    kv = KVStore(spark, name="rebucket_probe", num_buckets=4)
    kv.drop()
    kv.put_df(docs.select("key", "value"))
    s1 = kv.current_seq()
    kv.put_df(
        docs.filter(F.col("did") < 40).select(
            "key", F.encode(F.upper(F.col("text")), "UTF-8").alias("value")
        )
    )
    kv.delete_batch([str(i) for i in range(40, 50)])
    kv.rebucket(16)
    # post-migration fanout, read back from the catalog (bounded)
    n_buckets = 0
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {kv.table}").collect():
        if row["col_name"] == "Num Buckets":
            n_buckets = int(row["data_type"])

    def checksum(df: DataFrame, phase: str) -> DataFrame:
        kv_str = F.concat(F.col("key"), F.lit(":"), F.col("value").cast("string"))
        return df.agg(
            F.count(F.lit(1)).alias("n_keys"),
            (F.sum(portable_hash64(kv_str).cast("decimal(38,0)"))
             % 1000000000000000)
            .cast("bigint")
            .alias("checksum"),
        ).select(F.lit(phase).alias("phase"), "n_keys", "checksum")

    layout = (
        kv.scan()
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .select(
            F.lit("layout").alias("phase"),
            F.col("n_keys").cast("bigint"),
            F.lit(n_buckets).cast("bigint").alias("checksum"),
        )
    )
    return (
        checksum(kv.scan_as_of(s1), "asof")
        .unionAll(checksum(kv.scan(), "current"))
        .unionAll(layout)
        .orderBy("phase")
    )


@register(
    "kv_range_delete",
    oracle="""
    WITH base AS (
      SELECT lpad(CAST(doc_id AS VARCHAR), 4, '0') AS k, text AS v
      FROM documents WHERE doc_id < 100
    ), cur AS (
      SELECT k, v FROM base
      WHERE NOT (k >= '0010' AND k < '0020') AND k NOT LIKE '003%'
    )
    SELECT 'asof' AS phase, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT) AS checksum
    FROM base
    UNION ALL
    SELECT 'current', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT)
    FROM cur
    UNION ALL
    SELECT 'deleted',
           (SELECT COUNT(*) FROM base) - (SELECT COUNT(*) FROM cur),
           (SELECT COUNT(*) FROM base WHERE k >= '0010' AND k < '0020') * 1000
             + (SELECT COUNT(*) FROM base WHERE k LIKE '003%')
    ORDER BY phase
    """,
)
def kv_range_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix + range DELETE on the REAL store (kv.py::delete_prefix /
    delete_range — the RocksDB DeleteRange / FUSE rm -r primitives the
    LSM surface was missing next to TTL expiry and rebucket): ingest
    100 docs under zero-padded keys, range-tombstone [0010, 0020),
    prefix-tombstone 003*, then checksum-compare three phases — the
    pre-delete MVCC snapshot (deletes are versioned; scan_as_of
    reconstructs), the surviving state, and the per-call tombstone
    counts (range*1000 + prefix, so a wrong count on EITHER call
    hash-fails). Both predicates are pushed below the latest-wins agg
    to the sorted bucketed parquet scan — O(matching keys) per delete,
    never O(store), the property that makes a range delete usable on
    a 100 TB store."""
    from fairy_spark.kv import KVStore
    from fairy_spark.operators.text import portable_hash64

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select(
        F.lpad(F.col("doc_id").cast("string"), 4, "0").alias("key"),
        F.encode(F.col("text"), "UTF-8").alias("value"),
    )
    kv = KVStore(spark, name="rangedel_probe", num_buckets=8)
    kv.drop()
    kv.put_df(docs)
    s1 = kv.current_seq()
    n_range = kv.delete_range("0010", "0020")
    n_prefix = kv.delete_prefix("003")

    def checksum(df: DataFrame, phase: str) -> DataFrame:
        kv_str = F.concat(F.col("key"), F.lit(":"), F.col("value").cast("string"))
        return df.agg(
            F.count(F.lit(1)).alias("n_keys"),
            (F.sum(portable_hash64(kv_str).cast("decimal(38,0)"))
             % 1000000000000000)
            .cast("bigint")
            .alias("checksum"),
        ).select(F.lit(phase).alias("phase"), "n_keys", "checksum")

    deleted = spark.range(1).select(
        F.lit("deleted").alias("phase"),
        F.lit(n_range + n_prefix).cast("bigint").alias("n_keys"),
        F.lit(n_range * 1000 + n_prefix).cast("bigint").alias("checksum"),
    )
    return (
        checksum(kv.scan_as_of(s1), "asof")
        .unionAll(checksum(kv.scan(), "current"))
        .unionAll(deleted)
        .orderBy("phase")
    )


@register(
    "kv_compaction_equivalence",
    oracle="""
    WITH live AS (
      SELECT CAST(doc_id AS VARCHAR) AS k,
             CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS v
      FROM documents
      WHERE doc_id < 80 AND doc_id % 5 != 0
    )
    SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT) AS checksum
    FROM live, (SELECT unnest(['compacted', 'pre_compact']) AS phase)
    GROUP BY phase
    ORDER BY phase
    """,
)
def kv_compaction_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM compaction correctness through the REAL store: after an
    ingest + overwrite + tombstone history (3 write generations),
    compact() must rewrite the log to exactly the live view — same
    keys, same bytes, tombstones and shadowed versions physically
    gone. Both the pre-compact scan and the post-compact scan are
    checksummed and hash-checked against ONE oracle state derived
    independently from the source rules, so a compaction that drops,
    resurrects, or corrupts even one key fails the gate (the
    reference's analog: local FS store rewrite,
    local_file_kv_store.rs). Scale: compact() is one latest-wins
    hash agg + a bucketed rewrite — the same bucket-local shape as
    every read; history size amortizes away."""
    from fairy_spark.kv import KVStore
    from fairy_spark.operators.text import portable_hash64

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select(
            F.col("doc_id").cast("string").alias("key"),
            F.encode(F.col("text"), "UTF-8").alias("value"),
            F.col("doc_id").alias("did"),
            F.col("text"),
        )
    )
    kv = KVStore(spark, name="compact_probe", num_buckets=8)
    kv.drop()
    kv.put_df(docs.select("key", "value"))
    kv.put_df(
        docs.filter(F.col("did") % 3 == 0).select(
            "key", F.encode(F.upper(F.col("text")), "UTF-8").alias("value")
        )
    )
    kv.delete_batch([str(i) for i in range(0, 80, 5)])

    def checksum(df: DataFrame, phase: str) -> DataFrame:
        kv_str = F.concat(F.col("key"), F.lit(":"), F.col("value").cast("string"))
        return df.agg(
            F.count(F.lit(1)).alias("n_keys"),
            (
                F.sum(portable_hash64(kv_str).cast("decimal(38,0)"))
                % 1000000000000000
            )
            .cast("bigint")
            .alias("checksum"),
        ).select(F.lit(phase).alias("phase"), "n_keys", "checksum")

    pre = checksum(kv.scan(), "pre_compact")
    pre.collect()  # materialize BEFORE the table swap underneath
    pre = spark.createDataFrame(pre.collect(), pre.schema)
    kv.compact()
    post = checksum(kv.scan(), "compacted")
    return post.unionAll(pre).orderBy("phase")


@register(
    "kv_persist_restart",
    oracle="""
    WITH snap1 AS (
      SELECT CAST(doc_id AS VARCHAR) AS k, text AS v
      FROM documents WHERE doc_id < 100
    ), cur AS (
      SELECT CAST(doc_id AS VARCHAR) AS k,
             CASE WHEN doc_id % 4 = 1 THEN upper(text) ELSE text END AS v
      FROM documents
      WHERE doc_id < 100 AND doc_id % 10 != 7
    )
    SELECT 'asof_restart' AS phase, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT) AS checksum
    FROM snap1
    UNION ALL
    SELECT 'final_restart', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT)
    FROM cur
    ORDER BY phase
    """,
)
def kv_persist_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-restart durability of the KV MVCC log (VERDICT r6 #6c):
    the store is LOCATION-backed (external table over an explicit
    path — the durable-log mode, kv.py _recover_from_location), a
    3-generation history is written, and then the catalog entry is
    DROPPED — exactly what a driver restart does to Spark's in-memory
    catalog, while the external files survive. A brand-new handle
    over the same path must re-register the log and serve BOTH the
    historical snapshot (scan_as_of across the restart) and the final
    state, hash-checked against independently-derived oracle
    snapshots. Scale: recovery is one DDL over existing files (no
    data rewrite); bucket file names carry their bucket ids, so the
    re-registered table keeps bucket pruning and the shuffle-free
    latest-wins agg."""
    import os

    from fairy_spark.kv import KVStore
    from fairy_spark.operators.text import portable_hash64
    from fairy_spark.queries.sources_io import _IO_ROOT

    loc = os.path.join(_IO_ROOT, "kv_persist_probe")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.col("doc_id").cast("string").alias("key"),
            F.encode(F.col("text"), "UTF-8").alias("value"),
            F.col("doc_id").alias("did"),
            F.col("text"),
        )
    )
    kv = KVStore(spark, name="persist_probe", num_buckets=8, location=loc)
    kv.drop()
    kv.put_df(docs.select("key", "value"))
    s1 = kv.current_seq()
    kv.put_df(
        docs.filter(F.col("did") % 4 == 1).select(
            "key", F.encode(F.upper(F.col("text")), "UTF-8").alias("value")
        )
    )
    kv.delete_batch([str(i) for i in range(7, 100, 10)])

    # simulated restart: the in-memory catalog forgets the table (this
    # is all a new driver process starts with); the files at `loc` are
    # the only surviving state.
    spark.sql(f"DROP TABLE {kv.table}")
    kv2 = KVStore(spark, name="persist_probe", num_buckets=8, location=loc)

    def checksum(df: DataFrame, phase: str) -> DataFrame:
        kv_str = F.concat(F.col("key"), F.lit(":"), F.col("value").cast("string"))
        return df.agg(
            F.count(F.lit(1)).alias("n_keys"),
            (
                F.sum(portable_hash64(kv_str).cast("decimal(38,0)"))
                % 1000000000000000
            )
            .cast("bigint")
            .alias("checksum"),
        ).select(F.lit(phase).alias("phase"), "n_keys", "checksum")

    return (
        checksum(kv2.scan_as_of(s1), "asof_restart")
        .unionAll(checksum(kv2.scan(), "final_restart"))
        .orderBy("phase")
    )


@register(
    "kv_ttl_expire",
    oracle="""
    WITH survivors AS (
      -- batch 2 rewrote doc_id < 30 and inserted 100-129; expiry at
      -- the batch-2 watermark evicts every key whose LATEST write is
      -- batch 1 (doc_id 30-99 untouched since ingest)
      SELECT CAST(doc_id AS VARCHAR) AS k, upper(text) AS v
      FROM documents WHERE doc_id < 30
      UNION ALL
      SELECT CAST(doc_id AS VARCHAR), text
      FROM documents WHERE doc_id BETWEEN 100 AND 129
    )
    SELECT 'expired' AS phase, CAST(70 AS BIGINT) AS n_keys,
           CAST(0 AS BIGINT) AS checksum
    UNION ALL
    SELECT 'live', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(concat('0x', substr(md5(k || ':' || v), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT)
    FROM survivors
    ORDER BY phase
    """,
)
def kv_ttl_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL eviction on the real KV store (kv.expire_older_than — the
    cache semantics the reference exists for, with seq as the age
    axis): 100 docs ingest at seq 1, batch 2 rewrites 30 and inserts
    30 new, then expiry at the batch-2 watermark must evict EXACTLY
    the 70 keys untouched since batch 1 — recently-written keys
    survive regardless of original age, the LRU-ish property a
    latest-wins log gives for free. The surviving view is
    hash-checked against the oracle's independently-derived survivor
    set; the evicted count rides as its own row. Eviction is one
    bucket-local latest-wins agg + one tombstone append (O(stale),
    no log rewrite) and is itself VERSIONED — scan_as_of still
    reconstructs pre-expiry state, so a bad TTL config is
    recoverable, unlike a physical delete."""
    from fairy_spark.kv import KVStore
    from fairy_spark.operators.text import portable_hash64

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("did"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("text"),
    )
    kv = KVStore(spark, name="ttl_probe", num_buckets=8)
    kv.drop()
    kv.put_df(
        docs.filter(F.col("did") < 100).select(
            "key", F.encode("text", "UTF-8").alias("value")
        )
    )
    kv.put_df(
        docs.filter(F.col("did") < 30)
        .select("key", F.encode(F.upper(F.col("text")), "UTF-8").alias("value"))
        .unionAll(
            docs.filter(F.col("did").between(100, 129)).select(
                "key", F.encode("text", "UTF-8").alias("value")
            )
        )
    )
    watermark = kv.current_seq()
    n_expired = kv.expire_older_than(watermark)
    kv_str = F.concat(F.col("key"), F.lit(":"), F.col("value").cast("string"))
    live = kv.scan().agg(
        F.count(F.lit(1)).alias("n_keys"),
        (F.sum(portable_hash64(kv_str).cast("decimal(38,0)")) % 1000000000000000)
        .cast("bigint")
        .alias("checksum"),
    ).select(F.lit("live").alias("phase"), "n_keys", "checksum")
    expired = spark.createDataFrame(
        [("expired", n_expired, 0)], "phase STRING, n_keys BIGINT, checksum BIGINT"
    )
    return expired.unionAll(live).orderBy("phase")
