"""Warehouse-analytics composites: association rules, rolling
correlation, snapshot diff (CDC), group-wise regression, seasonal
baselines, data-quality expectations, incremental agg maintenance.

These are the ops a reference user layers ON TOP of the relational
core once the engine is their warehouse — recommendation candidates,
monitoring math, day-over-day change capture, materialized-view
maintenance. Shared determinism discipline (FIXTURES.md): every
aggregate accumulates exact integer/decimal units; doubles appear
only in a final, fixed-length IEEE op sequence mirrored token-for-
token in the DuckDB oracle, so the hash gate is scale-independent.

Reference parity: composed read-side analytics over cached tables
(reference worker/src/h2_service.rs scan path; no single-op analog —
these are the workloads §2.B's primitives exist to serve).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fairy_spark.functions.exact import money_sum as _money_sum, round6 as _round6
from fairy_spark.queries import register
from fairy_spark.sources.tables import load_table
from fairy_spark.operators.pool import park_persisted

_DEC = "decimal(38,0)"


@register(
    "ml_assoc_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM baskets a
      JOIN baskets b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
    ), item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM baskets GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM baskets
    )
    SELECT p.part_a, p.part_b, p.pair_cnt,
           CAST(FLOOR(CAST(p.pair_cnt AS DOUBLE) * t.n_orders
                      / (CAST(ca.c AS DOUBLE) * cb.c)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS lift
    FROM pair p
    CROSS JOIN tot t
    JOIN item ca ON p.part_a = ca.l_partkey
    JOIN item cb ON p.part_b = cb.l_partkey
    WHERE p.pair_cnt >= 2
    ORDER BY p.pair_cnt DESC, p.part_a, p.part_b
    LIMIT 50
    """,
)
def ml_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant 1994,
    public): top co-purchased part pairs with their lift
    P(a,b)/(P(a)P(b)). Scale shape: the basket self-join is an EQUI
    join on l_orderkey, so pair fan-out is Σ|basket|² — corpus-linear
    for bounded basket size (≤13 distinct parts/order here; a retail
    100 TB corpus is the same shape). Support counts are one hash agg
    on the pair key; item supports reuse the basket frame; the order
    total is a 1-row broadcast stat frame (allowlisted BNLJ). Lift is
    a fixed IEEE mul/div sequence over exact bigint counts — no
    float-sum order dependence — then 1e-6 quantized. The final
    top-50 is TakeOrdered on a total key (cnt desc, part_a, part_b),
    so ties can't flap between engines."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    tot = baskets.agg(F.count_distinct(F.col("l_orderkey")).alias("n_orders"))
    ca = item.select(F.col("l_partkey").alias("ka"), F.col("c").alias("ca"))
    cb = item.select(F.col("l_partkey").alias("kb"), F.col("c").alias("cb"))
    lift = (
        F.col("pair_cnt").cast("double")
        * F.col("n_orders")
        / (F.col("ca").cast("double") * F.col("cb"))
    )
    return (
        pair.crossJoin(F.broadcast(tot))
        .join(ca, F.col("part_a") == F.col("ka"))
        .join(cb, F.col("part_b") == F.col("kb"))
        .select("part_a", "part_b", "pair_cnt", _round6(lift).alias("lift"))
        .orderBy(F.col("pair_cnt").desc(), "part_a", "part_b")
        .limit(50)
    )


@register(
    "ts_rolling_corr",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS x6,
             LAG(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS y6
      FROM events
    ), s AS (
      SELECT user_id, ts, event_id, x6, y6,
             COUNT(*) OVER w AS n,
             SUM(x6) OVER w AS sx, SUM(y6) OVER w AS sy,
             SUM(x6 * y6) OVER w AS sxy,
             SUM(x6 * x6) OVER w AS sxx, SUM(y6 * y6) OVER w AS syy
      FROM x WHERE y6 IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                         * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS r
    FROM s
    WHERE n = 20 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY user_id, event_id
    """,
)
def ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 Pearson autocorrelation (lag-1) of each user's
    value series — the monitoring/feature-engineering twin of
    ts_zscore_anomaly, now with FIVE exact co-sums (Σx, Σy, Σxy,
    Σx², Σy², n) feeding one closed-form r per row. All sums are
    decimal(38,0) — products like Σx·Σy reach ~1.25e20, past the
    long max, the exact overflow that faulted ts_zscore_anomaly at
    sf0.1 (DuckDB silently widens to HUGEINT; the twin must widen
    explicitly). Plan: ONE user_id exchange serves the lag AND the
    five frame sums (same window spec), trailing state is 20 rows
    per user; r is a fixed IEEE sequence, so the engines agree
    bit-for-bit, not within tolerance."""
    ev = load_table(spark, sf_dir, "events")
    x6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = wo.rowsBetween(-19, Window.currentRow)
    base = ev.select(
        "user_id", "ts", "event_id", x6.alias("x6"), F.lag(x6).over(wo).alias("y6")
    ).filter(F.col("y6").isNotNull())
    xd = F.col("x6").cast(_DEC)
    yd = F.col("y6").cast(_DEC)
    s = base.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast(_DEC).alias("n"),
        F.sum(xd).over(w).alias("sx"),
        F.sum(yd).over(w).alias("sy"),
        F.sum(xd * yd).over(w).alias("sxy"),
        F.sum(xd * xd).over(w).alias("sxx"),
        F.sum(yd * yd).over(w).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    r = num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
    return (
        s.filter((F.col("n") == 20) & (vx > 0) & (vy > 0))
        .select("user_id", "event_id", _round6(r).alias("r"))
        .orderBy("user_id", "event_id")
    )


@register(
    "merge_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS a_orders,
             SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) / 10000.0 AS a_total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY o_custkey
    ), b AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS b_orders,
             SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) / 10000.0 AS b_total
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY o_custkey
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'added'
                WHEN b.o_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           a.a_orders, b.b_orders, a.a_total, b.b_total
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    WHERE a.o_custkey IS NULL OR b.o_custkey IS NULL
       OR a.a_orders != b.b_orders OR a.a_total != b.b_total
    ORDER BY custkey
    """,
)
def merge_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data-capture compare: two per-customer
    state snapshots (1996 vs 1997 order activity) full-outer-joined
    on the business key, each surviving row classified added /
    removed / changed — the day-over-day reconciliation every
    warehouse pipeline runs, and the read-side complement of
    merge_upsert (which APPLIES a diff; this one COMPUTES it).
    Scale: each snapshot is one pushed-filter scan + custkey hash
    agg; the diff is a single custkey-keyed full outer join between
    two customer-sized frames — AQE picks SMJ/shuffle-hash; nothing
    is corpus-sized after the aggs. The 'same' class is filtered
    with exact equality, safe because totals are fixed-point money
    sums — float sums would misclassify ties here."""
    o = load_table(spark, sf_dir, "orders")

    def snap(year: int, pre: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01 00:00:00").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01 00:00:00").cast("timestamp_ntz"))
            )
            .groupBy(F.col("o_custkey").alias(f"{pre}_custkey"))
            .agg(
                F.count(F.lit(1)).alias(f"{pre}_orders"),
                _money_sum(F.col("o_totalprice")).alias(f"{pre}_total"),
            )
        )

    a = snap(1996, "a")
    b = snap(1997, "b")
    joined = a.join(b, F.col("a_custkey") == F.col("b_custkey"), "full_outer")
    status = (
        F.when(F.col("a_custkey").isNull(), "added")
        .when(F.col("b_custkey").isNull(), "removed")
        .otherwise("changed")
    )
    return (
        joined.filter(
            F.col("a_custkey").isNull()
            | F.col("b_custkey").isNull()
            | (F.col("a_orders") != F.col("b_orders"))
            | (F.col("a_total") != F.col("b_total"))
        )
        .select(
            F.coalesce(F.col("a_custkey"), F.col("b_custkey")).alias("custkey"),
            status.alias("status"),
            "a_orders",
            "b_orders",
            "a_total",
            "b_total",
        )
        .orderBy("custkey")
    )


@register(
    "agg_linear_regression",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) * 24
               + CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS slope_micro6,
           CAST(FLOOR((CAST(sy AS DOUBLE)
                       - CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(sx AS DOUBLE)) / n
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS intercept_micro6
    FROM s
    ORDER BY event_type
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise ordinary-least-squares fit (value vs hours since
    2024-01-01, per event type): slope = (nΣxy − ΣxΣy)/(nΣx² −
    (Σx)²), intercept = (Σy − slope·Σx)/n — SQL-standard
    REGR_SLOPE/REGR_INTERCEPT semantics rebuilt from FOUR exact
    co-sums so the result is deterministic (built-in regr_* / corr
    aggregate doubles in partition order — hash-gate roulette). The
    x axis is integer hours via date-diff + hour, never epoch-of-
    timestamp (timezone-proof). Sums are decimal(38,0): nΣxy reaches
    ~1e21 at sf0.1. One hash agg per group over one scan — partial
    aggregation (map-side combine) applies, so the exchange carries
    5 numbers per (group × partition), not the corpus."""
    ev = load_table(spark, sf_dir, "events")
    x = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).cast(
            "bigint"
        )
        * 24
        + F.hour("ts").cast("bigint")
    )
    y = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    pts = ev.select(
        "event_type", x.cast(_DEC).alias("x"), y.cast(_DEC).alias("y")
    )
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col(
        "n"
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        _round6(slope).alias("slope_micro6"),
        _round6(intercept).alias("intercept_micro6"),
    ).orderBy("event_type")


@register(
    "ts_seasonal_baseline",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS x6
      FROM events
    ), hourly AS (
      SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x6) AS s6
      FROM v GROUP BY event_type, hod
    ), gstats AS (
      SELECT event_type,
             CAST(SUM(s6) AS DOUBLE) / SUM(n) AS gmean
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hod, h.n,
           CAST(FLOOR(CAST(h.s6 AS DOUBLE) / h.n / 1000000
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS hour_avg,
           CAST(FLOOR((CAST(h.s6 AS DOUBLE) / h.n - g.gmean) / 1000000
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS seasonal_delta
    FROM hourly h JOIN gstats g ON h.event_type = g.event_type
    ORDER BY h.event_type, h.hod
    """,
)
def ts_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type: each (type, hour)
    cell's mean value and its delta from the type's global mean —
    the additive-decomposition baseline behind every 'is this
    metric's dip just the nightly lull?' monitor. The global mean
    derives from the SAME 120-row hourly agg (Σ of sums / Σ of
    counts), not a second corpus scan — the materialized-rollup
    reuse discipline of q11/tpc-style threshold queries. One corpus
    hash agg on a 120-key space (map-side combine collapses it
    executor-locally); everything downstream is 120 rows joined to a
    5-row broadcast. Means are exact integer sums with one final
    IEEE division sequence, quantized at 1e-6."""
    ev = load_table(spark, sf_dir, "events")
    x6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    hourly = (
        ev.select("event_type", F.hour("ts").alias("hod"), x6.alias("x6"))
        .groupBy("event_type", "hod")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x6").alias("s6"))
    )
    glob = hourly.groupBy(F.col("event_type").alias("g_type")).agg(
        (F.sum("s6").cast("double") / F.sum("n")).alias("gmean")
    )
    hmean = F.col("s6").cast("double") / F.col("n")
    return (
        hourly.join(F.broadcast(glob), F.col("event_type") == F.col("g_type"))
        .select(
            "event_type",
            "hod",
            "n",
            _round6(hmean / 1000000).alias("hour_avg"),
            _round6((hmean - F.col("gmean")) / 1000000).alias("seasonal_delta"),
        )
        .orderBy("event_type", "hod")
    )


@register(
    "agg_dq_checks",
    oracle="""
    SELECT 'lineitem_discount_range' AS check_name,
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT) AS violations,
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_orderkey_referential',
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_ship_after_order',
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate < o.o_orderdate
    UNION ALL
    SELECT 'orders_orderdate_not_null',
           CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT),
           COUNT(*) FILTER (WHERE o_orderdate IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*) = COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT),
           COUNT(*) FILTER (WHERE o_totalprice <= 0) = 0
    FROM orders
    ORDER BY check_name
    """,
)
def agg_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the deequ/great-expectations
    pattern, public): six declarative checks — uniqueness, not-null,
    value ranges, cross-table referential integrity, cross-column
    date ordering — each reduced to a violation COUNT and a pass
    flag, unioned into one report frame. Scale: the five single-
    table checks are conditional-count aggs (one scan each; the
    three orders checks could share a scan — kept separate so each
    expectation is independently pluggable, the way a DQ suite
    composes). The referential check is a shuffle ANTI join keyed on
    orderkey; the date-order check rides the same-keyed INNER join —
    at 100 TB these are the two corpus-sized exchanges, both
    AQE-skew-safe equi joins. Counts are exact bigints; no floats
    anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def check(name: str, frame: DataFrame, viol) -> DataFrame:
        return frame.agg(viol.alias("violations")).select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("bigint").alias("violations"),
            (F.col("violations") == 0).alias("passed"),
        )

    bad_disc = (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
    checks = [
        check("lineitem_discount_range", li, F.count_if(bad_disc)),
        check(
            "lineitem_orderkey_referential",
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti"),
            F.count(F.lit(1)),
        ),
        check(
            "lineitem_ship_after_order",
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
                F.col("l_shipdate") < F.col("o_orderdate")
            ),
            F.count(F.lit(1)),
        ),
        check("orders_orderdate_not_null", o, F.count_if(F.col("o_orderdate").isNull())),
        check(
            "orders_orderkey_unique",
            o,
            F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey")),
        ),
        check("orders_totalprice_positive", o, F.count_if(F.col("o_totalprice") <= 0)),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.orderBy("check_name")


@register(
    "agg_incremental_merge",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
             / 10000.0 AS revenue
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the corpus is
    split into a 'base' partition (shipped before 1998-07-01) and a
    'delta' batch (the rest), each reduced to partial states
    (count, Σ integer money units), then MERGED by summing states —
    the add-only refresh path of a materialized view, exercising the
    commutative-monoid contract (merge(partial(A), partial(B)) ==
    full(A ∪ B)) that makes partial aggregation sound at all. The
    ORACLE computes the direct one-pass aggregate, so the hash gate
    itself proves the merge law — not just that two engines agree.
    Keeping units as bigint through the merge is the load-bearing
    detail: merging the DIVIDED doubles would reintroduce float
    association error exactly where the law must be exact. Scale:
    two pushed-filter scans + one 6-key agg each; the merge input is
    2×6 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-07-01 00:00:00").cast("timestamp_ntz")
    units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")

    def partial(frame: DataFrame) -> DataFrame:
        return frame.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum(units).alias("units")
        )

    base = partial(li.filter(F.col("l_shipdate") < cut))
    delta = partial(li.filter(F.col("l_shipdate") >= cut))
    return (
        base.unionAll(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("n_rows").alias("n_rows"), F.sum("units").alias("units"))
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            (F.col("units") / 10000.0).alias("revenue"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "events_attribution",
    oracle="""
    WITH tagged AS (
      SELECT event_type, value, ts, event_id,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view', 'signup')
                             THEN event_type END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
      FROM events
    )
    SELECT touch AS channel,
           CAST(COUNT(*) AS BIGINT) AS conversions,
           SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0
             AS attributed_value
    FROM tagged
    WHERE event_type = 'purchase' AND touch IS NOT NULL
    GROUP BY channel
    ORDER BY channel
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent preceding touch event (click/view/signup), the
    marketing-analytics workhorse. The carried channel is ONE
    last_value(ignorenulls) over the user timeline — the forward-fill
    idiom shared with join_asof/ts_resample_ffill — so attribution
    costs a single user_id exchange end-to-end, never an inequality
    self-join (the naive 'latest touch before each purchase' join is
    corpus-quadratic per user at 100 TB). Purchase rows contribute
    NULL to the carry, so a purchase can't attribute to itself.
    Attributed value accumulates exact 1e-6 units; the final report
    is |channels| rows."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("click", "view", "signup"), F.col("event_type")
        ),
        ignorenulls=True,
    ).over(w)
    v6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    return (
        ev.select("event_type", v6.alias("v6"), touch.alias("channel"))
        .filter((F.col("event_type") == "purchase") & F.col("channel").isNotNull())
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            (F.sum("v6") / 1000000.0).alias("attributed_value"),
        )
        .orderBy("channel")
    )


@register(
    "ml_feature_hashing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 32
                AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks
    WHERE tok != ''
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009, public):
    tokens hash into a fixed 32-bucket vocabulary-free feature space —
    the standard way to featurize unbounded token streams without a
    vocab build or a dictionary broadcast. Bucket ids come from the
    repo's portable 60-bit md5 hash (operators/text.py convention), so
    both engines derive identical features — Spark's built-in
    hash()/xxhash64 would be engine-private. Shape: one explode
    (row-linear fan-out) + one hash agg on (doc_id, bucket), map-side
    combined; output is ≤32 rows per doc — the sparse COO form a
    trainer ingests directly. No vocabulary state anywhere: THE scale
    property of the hashing trick."""
    from fairy_spark.operators.text import portable_hash64

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.select(
            "doc_id", (portable_hash64(F.col("tok")) % 32).cast("int").alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("doc_id", "bucket")
    )


@register(
    "dedup_spell_variants",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents
    ), toks AS (SELECT tok FROM vocab WHERE tok != ''),
    variants AS (
      SELECT tok, unnest(list_distinct(list_concat(list_concat(
               [tok],
               list_transform(generate_series(1, len(tok)),
                              i -> substr(tok, 1, i - 1) || substr(tok, i + 1, 100))),
               flatten(list_transform(generate_series(1, len(tok)), i ->
                 list_transform(list_filter(generate_series(1, len(tok)), j -> j > i),
                   j -> substr(tok, 1, i - 1) || substr(tok, i + 1, j - i - 1)
                        || substr(tok, j + 1, 100))))
             ))) AS var
      FROM toks
    ), cand AS (
      SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
      FROM variants a JOIN variants b
        ON a.var = b.var AND a.tok < b.tok
    )
    SELECT tok_a, tok_b,
           CAST(levenshtein(tok_a, tok_b) AS INTEGER) AS dist
    FROM cand
    WHERE levenshtein(tok_a, tok_b) <= 2
    ORDER BY tok_a, tok_b
    """,
)
def dedup_spell_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant detection by deletion-neighborhood blocking
    (the FastSS/SymSpell family, public): two words within edit
    distance d share a member of each other's depth-d deletion
    neighborhood, so generating all ≤2-char-deletion variants per
    VOCABULARY entry (1 + n + n(n−1)/2 per word) and equi-joining on
    the variant key finds every lev ≤ 2 candidate pair without the
    O(|vocab|²) all-pairs scan — the same block-then-verify shape as
    minhash-LSH, applied to edit distance. Everything is
    vocabulary-bounded: the corpus contributes one explode + distinct
    (one shuffle), and variants multiply vocab by ≤ 1+n+n²/2 (~40 for
    8-char words), so a 1e6-word vocab costs ~4e7 join keys
    regardless of corpus size. Levenshtein is the exact verify (both
    engines implement the same DP), and the deletion pigeonhole
    guarantees no lev ≤ 2 pair escapes the blocking — false negatives
    are impossible, candidates are merely pruned. Degenerate hub: the
    '' variant blocks all len ≤ 2 words together; production SymSpell
    prefix-limits long words and skips len ≤ d ones — the plan is
    unchanged by either refinement."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    variants = vocab.select(
        "tok",
        F.explode(
            F.expr(
                "array_distinct(concat(concat(array(tok), "
                "transform(sequence(1, length(tok)), "
                "i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1, 100)))), "
                "flatten(transform(sequence(1, length(tok)), i -> "
                "transform(filter(sequence(1, length(tok)), j -> j > i), "
                "j -> concat(substring(tok, 1, i - 1), "
                "substring(tok, i + 1, j - i - 1), substring(tok, j + 1, 100)))))))"
            )
        ).alias("var"),
    )
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.var") == F.col("b.var")) & (F.col("a.tok") < F.col("b.tok")),
        )
        .select(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .distinct()
    )
    return (
        cand.filter(F.levenshtein("tok_a", "tok_b") <= 2)
        .select(
            "tok_a",
            "tok_b",
            F.levenshtein("tok_a", "tok_b").cast("int").alias("dist"),
        )
        .orderBy("tok_a", "tok_b")
    )


@register(
    "ts_max_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts AS s,
             LEAST(ts + INTERVAL 10 MINUTE,
                   CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP)) AS e
      FROM events
    ), bounds AS (
      SELECT event_type, day, s AS bts, 1 AS delta FROM iv
      UNION ALL
      SELECT event_type, day, e AS bts, -1 AS delta FROM iv
    ), running AS (
      SELECT event_type, day, delta,
             SUM(delta) OVER (PARTITION BY event_type, day
                              ORDER BY bts, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS conc
      FROM bounds
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(COUNT(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_events,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM running
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def ts_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency (the 'max concurrent sessions'
    classic): each event occupies [ts, ts+10min) clamped to its start
    day, decomposed into +1/−1 boundary rows; a running sum ordered
    by (boundary, delta) — ends sort before starts at the same
    instant, so half-open adjacency never counts as overlap — peaks
    at the answer. Determinism under ties: within a group of
    identical (bts, delta) boundaries every permutation yields the
    same prefix-sum SET (same-sign deltas), so max(conc) needs no
    unique tiebreak column. Scale: the day clamp keeps both
    boundaries of an interval in ONE (event_type, day) partition —
    no cross-partition carry — so the window state is day-bounded
    and the whole op is one exchange on a composite key that grows
    with the calendar, not the corpus."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    end = F.least(
        F.col("ts") + F.expr("INTERVAL 10 MINUTES"),
        F.date_add(day, 1).cast("timestamp_ntz"),
    )
    iv = ev.select("event_type", day.alias("day"), F.col("ts").alias("s"), end.alias("e"))
    bounds = iv.select(
        "event_type", "day", F.col("s").alias("bts"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("event_type", "day", F.col("e").alias("bts"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("bts", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = bounds.select(
        "event_type", "day", "delta", F.sum("delta").over(w).alias("conc")
    )
    return (
        running.groupBy("event_type", F.col("day").cast("string").alias("day"))
        .agg(
            F.count_if(F.col("delta") == 1).alias("n_events"),
            F.max("conc").cast("bigint").alias("peak_concurrency"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "win_pareto_frontier",
    oracle="""
    WITH sup AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
               AS revenue_units,
             MIN(CAST(FLOOR(l_extendedprice / l_quantity * 10000 + 0.5) AS BIGINT))
               AS unit_price_units
      FROM lineitem
      GROUP BY l_suppkey
    ), ranked AS (
      SELECT n.n_name AS nation, s.s_suppkey,
             sup.revenue_units, sup.unit_price_units,
             MIN(sup.unit_price_units) OVER (
               PARTITION BY n.n_name
               ORDER BY sup.revenue_units DESC, sup.unit_price_units, s.s_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
      FROM sup
      JOIN supplier s ON sup.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT nation, s_suppkey,
           revenue_units / 10000.0 AS revenue,
           unit_price_units / 10000.0 AS unit_price
    FROM ranked
    WHERE best_prev IS NULL OR unit_price_units < best_prev
    ORDER BY nation, s_suppkey
    """,
)
def win_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Pareto frontier (skyline) of suppliers: maximize
    revenue, minimize observed unit price — a supplier survives iff
    no same-nation supplier beats it on both axes. The 2D skyline
    reduces to a SORT + RUNNING MIN: order by revenue desc and keep
    rows whose price undercuts every predecessor's best — linear
    after the sort, not the O(n²) dominance anti-join the textbook
    NOT EXISTS formulation plans. Scale: the corpus collapses to a
    supplier-sized frame via ONE hash agg before any window; the
    frontier window partitions by nation over dim-bounded groups, so
    no corpus-sized ordering exists anywhere (the curriculum-decile
    sharded-rank fallback applies if the per-group entity table ever
    outgrows a partition). Both axes are exact fixed-point units, so
    the strict '<' dominance test can't flip on float noise; ties on
    revenue break by s_suppkey, making the surviving set unique."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast(
                "bigint"
            )
        ).alias("revenue_units"),
        F.min(
            F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 10000 + F.lit(0.5)).cast(
                "bigint"
            )
        ).alias("unit_price_units"),
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ranked = (
        sup.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            "s_suppkey",
            "revenue_units",
            "unit_price_units",
        )
    )
    # Tie discipline: same-revenue rows order cheapest-FIRST, so an
    # equal-revenue pricier supplier sees the cheaper one's price in
    # best_prev and is eliminated — with (revenue, suppkey) alone a
    # dominated same-revenue row with a lower suppkey survived
    # (caught by tests/test_skyline_fuzz.py's brute-force compare).
    w = (
        Window.partitionBy("nation")
        .orderBy(F.col("revenue_units").desc(), "unit_price_units", "s_suppkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranked.withColumn("best_prev", F.min("unit_price_units").over(w))
        .filter(
            F.col("best_prev").isNull()
            | (F.col("unit_price_units") < F.col("best_prev"))
        )
        .select(
            "nation",
            "s_suppkey",
            (F.col("revenue_units") / 10000.0).alias("revenue"),
            (F.col("unit_price_units") / 10000.0).alias("unit_price"),
        )
        .orderBy("nation", "s_suppkey")
    )


def _kmeans_oracle(iters: int = 2, k: int = 4) -> str:
    """Unrolled Lloyd-iteration CTE chain (the _pagerank_oracle
    pattern): DuckDB replays the identical integer arithmetic."""
    prev = "c0"
    its = []
    for i in range(1, iters + 1):
        its.append(
            f"""a{i} AS (
      SELECT v.vec_id, c.cluster,
             SUM((v.x - c.c) * (v.x - c.c)) AS d2
      FROM v JOIN {prev} c ON v.dim = c.dim
      GROUP BY v.vec_id, c.cluster
    ), asg{i} AS (
      SELECT a.vec_id, MIN(a.cluster) AS cluster
      FROM a{i} a
      JOIN (SELECT vec_id, MIN(d2) AS m FROM a{i} GROUP BY vec_id) mm
        ON a.vec_id = mm.vec_id AND a.d2 = mm.m
      GROUP BY a.vec_id
    ), c{i} AS (
      SELECT s.cluster, v.dim,
             CAST(FLOOR(CAST(SUM(v.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM v JOIN asg{i} s ON v.vec_id = s.vec_id
      GROUP BY s.cluster, v.dim
    )"""
        )
        prev = f"c{i}"
    return f"""
    WITH ex AS (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) AS pos,
             unnest(embedding) AS xf
      FROM embeddings
    ), v AS (
      SELECT vec_id, CAST(pos - 1 AS INTEGER) AS dim,
             CAST(FLOOR(CAST(xf AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS x
      FROM ex
    ), c0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, dim, x AS c
      FROM v WHERE vec_id < {k}
    ), {", ".join(its)}
    SELECT m.cluster,
           CAST(m.n_members AS BIGINT) AS n_members,
           CAST(l.l1 AS BIGINT) AS centroid_l1
    FROM (SELECT cluster, COUNT(*) AS n_members FROM asg{iters} GROUP BY cluster) m
    JOIN (SELECT cluster, SUM(ABS(c)) AS l1 FROM c{iters} GROUP BY cluster) l
      ON m.cluster = l.cluster
    ORDER BY m.cluster
    """


@register("ml_kmeans_lloyd", oracle=_kmeans_oracle())
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means, Lloyd's algorithm (public, 1957/1982), run as TWO
    fully-relational iterations over the embeddings table — the
    iterative-ML shape (assign → update → repeat) as a driver loop of
    joins, like graph_pagerank but over a 64-dim vector space.
    Everything is EXACT integer arithmetic: components quantize once
    to 1e-6 units, squared distances are bigint sums (≤ 64·(2e6)² ≈
    2.6e14, no overflow), ties break to the lowest cluster id, and
    centroid updates use the same floor(Σ/n) sequence on both
    engines — a float k-means could never hash-match across engines
    or even across partitionings (the IVF index, similarity.py:200,
    makes the same determinism choices). Scale: the vector explode is
    row-linear; each iteration is ONE corpus-sized hash agg per step
    with the k×dims centroid frame (256 rows) BROADCAST — the
    canonical distributed k-means plan, corpus never re-partitioned
    across iterations; k seed rows come from the data itself
    (vec_id < k), not a collect."""
    k, iters = 4, 2
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("xf").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
    )
    cent = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cluster"), "dim", F.col("x").alias("c")
    )
    for _ in range(iters):
        a = (
            v.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cluster")
            .agg(F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("d2"))
        )
        mm = a.groupBy(F.col("vec_id").alias("m_vid")).agg(F.min("d2").alias("m"))
        asg = (
            a.join(mm, (F.col("vec_id") == F.col("m_vid")) & (F.col("d2") == F.col("m")))
            .groupBy("vec_id")
            .agg(F.min("cluster").alias("cluster"))
        )
        cent = (
            v.join(asg.withColumnRenamed("vec_id", "a_vid"), F.col("vec_id") == F.col("a_vid"))
            .groupBy("cluster", "dim")
            .agg(
                F.floor(F.sum("x").cast("double") / F.count(F.lit(1)))
                .cast("bigint")
                .alias("c")
            )
        )
    members = asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    l1 = cent.groupBy(F.col("cluster").alias("l_cluster")).agg(
        F.sum(F.abs(F.col("c"))).alias("centroid_l1")
    )
    return (
        members.join(l1, F.col("cluster") == F.col("l_cluster"))
        .select("cluster", "n_members", "centroid_l1")
        .orderBy("cluster")
    )


@register(
    "ml_naive_bayes",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 32
                  AS INTEGER) AS b
      FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
      ) WHERE tok != ''
    ), train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
    test  AS (SELECT * FROM toks WHERE doc_id % 2 = 1),
    cls AS (
      SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM train GROUP BY lang
    ), nd AS (SELECT SUM(n_docs) AS total_docs FROM cls),
    cnt AS (
      SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM train GROUP BY lang, b
    ), tot AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS t FROM train GROUP BY lang
    ), grid AS (
      SELECT cls.lang, gb.b
      FROM cls CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) gb
    ), model AS (
      SELECT g.lang, g.b,
             CAST(FLOOR(LN((COALESCE(cnt.c, 0) + 1.0) / (tot.t + 32))
                        * 1000000 + 0.5) AS BIGINT) AS lp6
      FROM grid g
      JOIN tot ON g.lang = tot.lang
      LEFT JOIN cnt ON g.lang = cnt.lang AND g.b = cnt.b
    ), prior AS (
      SELECT cls.lang,
             CAST(FLOOR(LN(CAST(cls.n_docs AS DOUBLE) / nd.total_docs)
                        * 1000000 + 0.5) AS BIGINT) AS pr6
      FROM cls CROSS JOIN nd
    ), dcnt AS (
      SELECT doc_id, MIN(lang) AS lang_true, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM test GROUP BY doc_id, b
    ), score AS (
      SELECT d.doc_id, MIN(d.lang_true) AS lang_true, m.lang AS lang_cand,
             MIN(p.pr6) + SUM(d.c * m.lp6) AS s
      FROM dcnt d
      JOIN model m ON d.b = m.b
      JOIN prior p ON m.lang = p.lang
      GROUP BY d.doc_id, m.lang
    ), best AS (
      SELECT s.doc_id, MIN(s.lang_true) AS lang_true,
             MIN(s.lang_cand) AS lang_pred
      FROM score s
      JOIN (SELECT doc_id, MAX(s) AS mx FROM score GROUP BY doc_id) mm
        ON s.doc_id = mm.doc_id AND s.s = mm.mx
      GROUP BY s.doc_id
    )
    SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
    FROM best
    GROUP BY lang_true, lang_pred
    ORDER BY lang_true, lang_pred
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained AND evaluated relationally
    (public textbook algorithm, Laplace smoothing): even doc_ids
    train per-(class, feature-bucket) counts over the 32-bucket
    hashed feature space (ml_feature_hashing's portable-md5 buckets);
    odd doc_ids score against the 160-row model and the confusion
    matrix comes back. Determinism end-to-end: log-probabilities
    quantize ONCE per model cell (160 transcendentals total, never
    per document), document scores are exact bigint Σ count·lp6 +
    prior, and argmax ties break to the lexicographically smallest
    class — so train→predict→evaluate hash-matches across engines.
    Scale: training is two hash aggs over the token stream; the model
    + priors are class×bucket-bounded broadcasts; scoring is one
    equi join on the bucket key and one (doc, class) hash agg —
    corpus-linear, the model never shuffles, and the 100 TB version
    differs only in bucket count."""
    from fairy_spark.operators.text import portable_hash64

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id", "lang", (portable_hash64(F.col("tok")) % 32).cast("int").alias("b")
        )
    )
    train = toks.filter(F.col("doc_id") % 2 == 0)
    test = toks.filter(F.col("doc_id") % 2 == 1)
    cls = train.groupBy("lang").agg(F.count_distinct("doc_id").alias("n_docs"))
    nd = cls.agg(F.sum("n_docs").alias("total_docs"))
    cnt = train.groupBy(F.col("lang").alias("c_lang"), F.col("b").alias("c_b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = train.groupBy(F.col("lang").alias("t_lang")).agg(
        F.count(F.lit(1)).alias("t")
    )
    grid = cls.select("lang").crossJoin(
        spark.range(32).select(F.col("id").cast("int").alias("b"))
    )
    lp6 = (
        F.floor(
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("t") + 32)
            )
            * 1000000
            + F.lit(0.5)
        )
    ).cast("bigint")
    model = (
        grid.join(tot, F.col("lang") == F.col("t_lang"))
        .join(
            cnt,
            (F.col("lang") == F.col("c_lang")) & (F.col("b") == F.col("c_b")),
            "left",
        )
        .select("lang", "b", lp6.alias("lp6"))
    )
    pr6 = (
        F.floor(
            F.log(F.col("n_docs").cast("double") / F.col("total_docs")) * 1000000
            + F.lit(0.5)
        )
    ).cast("bigint")
    prior = cls.crossJoin(F.broadcast(nd)).select(
        F.col("lang").alias("p_lang"), pr6.alias("pr6")
    )
    dcnt = test.groupBy("doc_id", "b").agg(
        F.min("lang").alias("lang_true"), F.count(F.lit(1)).alias("c")
    )
    m = model.select(
        F.col("lang").alias("m_lang"), F.col("b").alias("m_b"), "lp6"
    )
    score = (
        dcnt.join(F.broadcast(m), F.col("b") == F.col("m_b"))
        .join(F.broadcast(prior), F.col("m_lang") == F.col("p_lang"))
        .groupBy("doc_id", F.col("m_lang").alias("lang_cand"))
        .agg(
            (F.min("pr6") + F.sum(F.col("c") * F.col("lp6"))).alias("s"),
            F.min("lang_true").alias("lang_true"),
        )
    )
    mm = score.groupBy(F.col("doc_id").alias("x_did")).agg(F.max("s").alias("mx"))
    best = (
        score.join(mm, (F.col("doc_id") == F.col("x_did")) & (F.col("s") == F.col("mx")))
        .groupBy("doc_id")
        .agg(
            F.min("lang_true").alias("lang_true"),
            F.min("lang_cand").alias("lang_pred"),
        )
    )
    return (
        best.groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_true", "lang_pred")
    )


@register(
    "events_rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
    rfm AS (
      SELECT e.user_id,
             date_diff('day', CAST(MAX(e.ts) AS DATE), CAST(a.mx AS DATE))
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS n_purchases,
             CAST(SUM(CAST(FLOOR(e.value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_units
      FROM events e CROSS JOIN anchor a
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id, a.mx
    ), scored AS (
      SELECT user_id, recency_days, n_purchases, monetary_units,
             NTILE(5) OVER (ORDER BY recency_days, user_id) AS r_q,
             NTILE(5) OVER (ORDER BY n_purchases, user_id) AS f_q,
             NTILE(5) OVER (ORDER BY monetary_units, user_id) AS m_q
      FROM rfm
    )
    SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
           n_purchases, monetary_units,
           CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
           CAST(m_q AS INTEGER) AS m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR)
             AS segment
    FROM scored
    ORDER BY user_id
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles — the marketing-analytics classic): per purchasing
    user, days since last purchase (vs the corpus max timestamp),
    purchase count, and exact fixed-point spend, each assigned a
    1-5 quintile and concatenated into the segment code. The three
    global NTILEs use the SHARDED global-rank machinery
    (operators/ranking.py — range-shard, per-shard window, driver
    offset sum) + the NTILE-from-position formula, because a bare
    NTILE() OVER (ORDER BY ...) plans a SinglePartition exchange
    that serializes the table through one task — the exact
    anti-pattern the registry's window gate exists to catch
    (win_cume_pct's story, applied three times). All ranks order on
    (metric, user_id), so ties are total and both engines bucket
    identically. Scale: the RFM frame is user-sized after ONE corpus
    hash agg; each quintile pass is an exchange over that frame, not
    the corpus."""
    from fairy_spark.operators.ranking import ntile_from_pos, sharded_global_row_number

    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))
    v6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    rfm = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "mx")
        .agg(
            F.datediff(F.col("mx").cast("date"), F.max("ts").cast("date")).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(v6).alias("monetary_units"),
        )
        .select(
            "user_id",
            F.col("recency_days").cast("bigint").alias("recency_days"),
            "n_purchases",
            "monetary_units",
        )
    )
    # r14 (guide §1.2 step 1): each sharded-rank pass evaluates its
    # input three times (range-bounds agg, per-shard subtotal collect,
    # final plan), and the three passes chain — unparked, the corpus
    # purchase agg re-ran ~9× (4 scans in the final plan + 6 eager
    # collects). One persist-mode park of the user-sized RFM frame
    # (small plan, accurate stats) makes every downstream pass read
    # the materialized frame instead.

    rfm = park_persisted(rfm)
    out = rfm
    for metric, qcol in [
        ("recency_days", "r_q"),
        ("n_purchases", "f_q"),
        ("monetary_units", "m_q"),
    ]:
        ranked, total = sharded_global_row_number(
            out, [metric, "user_id"], pos_col="__pos"
        )
        out = ranked.withColumn(
            qcol, ntile_from_pos(F.col("__pos"), total, 5).cast("int")
        ).drop("__pos")
    return out.select(
        "user_id",
        "recency_days",
        "n_purchases",
        "monetary_units",
        "r_q",
        "f_q",
        "m_q",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("segment"),
    ).orderBy("user_id")


@register(
    "agg_weighted_median",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
               AS w
      FROM lineitem
      GROUP BY flag, qty
    ), cum AS (
      SELECT flag, qty, w,
             SUM(w) OVER (PARTITION BY flag ORDER BY qty
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY flag) AS tw
      FROM cells
    )
    SELECT flag, CAST(MIN(qty) AS BIGINT) AS weighted_median_qty,
           CAST(MIN(tw) AS BIGINT) / 10000.0 AS total_weight
    FROM cum
    WHERE 2 * cw >= tw
    GROUP BY flag
    ORDER BY flag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (revenue-weighted median order quantity
    per return flag): the smallest quantity whose cumulative revenue
    weight reaches half the group total. The scale design is the
    HISTOGRAM reduction: the corpus collapses to (group × value)
    CELLS in one hash agg — quantity is a bounded domain (≤50
    values), so the cumulative-weight window runs over a ~150-row
    frame, never the corpus; an unbounded continuous value column
    would first quantize into bounded bins (this query's pattern) or
    fall back to the mergeable quantile sketch
    (sketch_quantile_hist). Weights are exact integer money units, so
    the 2·cw ≥ tw cut is arithmetic, not float-comparison roulette —
    a float weight sum could flip the median cell between runs."""
    li = load_table(spark, sf_dir, "lineitem")
    w_units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("bigint")
    cells = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).agg(F.sum(w_units).alias("w"))
    wq = Window.partitionBy("flag").orderBy("qty").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("flag")
    cum = cells.select(
        "flag",
        "qty",
        F.sum("w").over(wq).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("qty").alias("weighted_median_qty"),
            (F.min("tw") / 10000.0).alias("total_weight"),
        )
        .orderBy("flag")
    )


@register(
    "events_time_to_convert",
    oracle="""
    WITH first_touch AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
      FROM events
      GROUP BY user_id
    ), conv AS (
      SELECT user_id, CAST(s_ts AS DATE) AS cohort_day,
             date_diff('hour', s_ts, p_ts) AS hours_to_convert
      FROM first_touch
      WHERE s_ts IS NOT NULL AND p_ts IS NOT NULL AND p_ts >= s_ts
    )
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(MEDIAN(hours_to_convert), 6) AS median_hours,
           ROUND(QUANTILE_CONT(hours_to_convert, 0.9), 6) AS p90_hours
    FROM conv
    GROUP BY cohort_day
    ORDER BY cohort_day
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per signup cohort (the growth
    metric next to events_retention's who-came-back matrix): each
    user's FIRST signup to FIRST purchase, in whole hours, summarized
    as exact interpolated median and p90 per signup-day cohort. Both
    first-touch timestamps come from ONE conditional-min hash agg per
    user (no window, no self-join — the funnel extraction pattern);
    the hour deltas are exact integers (epoch-difference floor), so
    the percentile interpolation runs over identical inputs on both
    engines (agg_percentiles' percentile == QUANTILE_CONT pairing).
    Scale: one corpus agg to a user-sized frame, then a cohort-keyed
    agg over it; cohort count grows with the calendar, not the
    corpus."""
    ev = load_table(spark, sf_dir, "events")
    ft = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p_ts"),
    )
    conv = (
        ft.filter(
            F.col("s_ts").isNotNull()
            & F.col("p_ts").isNotNull()
            & (F.col("p_ts") >= F.col("s_ts"))
        )
        .select(
            F.col("s_ts").cast("date").cast("string").alias("cohort_day"),
            # whole-hour delta via exact date+hour arithmetic (tz-free);
            # DuckDB date_diff('hour') counts hour-boundary crossings
            (
                (
                    F.datediff(F.col("p_ts").cast("date"), F.col("s_ts").cast("date"))
                    * 24
                    + (F.hour("p_ts") - F.hour("s_ts"))
                ).cast("bigint")
            ).alias("hours_to_convert"),
        )
    )
    return (
        conv.groupBy("cohort_day")
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.expr("percentile(hours_to_convert, 0.5)"), 6).alias(
                "median_hours"
            ),
            F.round(F.expr("percentile(hours_to_convert, 0.9)"), 6).alias("p90_hours"),
        )
        .orderBy("cohort_day")
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM user_days GROUP BY day
    ), wau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM (SELECT DISTINCT day FROM user_days) d
      JOIN user_days u
        ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
           CAST(FLOOR(CAST(dau.dau AS DOUBLE) / wau.wau * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY day
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness (the product-analytics pulse metric):
    daily actives, trailing-7-day actives, and their ratio per day.
    The corpus reduces ONCE to the distinct (user, day) frame — after
    that everything is calendar×user-bounded: DAU is a day-keyed hash
    agg, and WAU joins the day grid to user-days on a 7-day band
    (each user-day fans out to ≤7 grid days — bounded fan-out, the
    binned-interval-join discipline) before a distinct count per
    anchor day. No corpus-sized window, no 7-day DISTINCT frame
    (window distinct-count doesn't exist in either engine — the
    band-join IS the standard formulation). Stickiness quantizes
    from exact integer counts."""
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    grid = user_days.select(F.col("day").alias("g_day")).distinct()
    wau = (
        grid.join(
            user_days,
            (F.col("day") >= F.date_sub(F.col("g_day"), 6))
            & (F.col("day") <= F.col("g_day")),
        )
        .groupBy("g_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    stick = F.floor(
        F.col("dau").cast("double") / F.col("wau") * 1000000 + F.lit(0.5)
    ).cast("bigint") / 1000000.0
    return (
        dau.join(wau, F.col("day") == F.col("g_day"))
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            stick.alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "events_power_curve",
    oracle="""
    WITH spend AS (
      SELECT user_id,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS units
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), ranked AS (
      SELECT user_id, units,
             NTILE(10) OVER (ORDER BY units DESC, user_id) AS decile
      FROM spend
    ), tot AS (SELECT SUM(units) AS total FROM spend)
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(units) AS BIGINT) AS units,
           CAST(FLOOR(CAST(SUM(units) AS DOUBLE) / tot.total * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS share
    FROM ranked CROSS JOIN tot
    GROUP BY decile, tot.total
    ORDER BY decile
    """,
)
def events_power_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration curve (the 80/20 check): purchasing
    users ranked into spend deciles, each decile's share of total
    purchase value. The decile NTILE runs on the SHARDED global-rank
    machinery over the user-sized spend frame (RFM's discipline — a
    bare global NTILE plans SinglePartition), ordered (units desc,
    user_id) so ties bucket identically on both engines; shares come
    from exact integer units against a 1-row total broadcast. One
    corpus hash agg, then everything is user- and decile-bounded."""
    from fairy_spark.operators.ranking import ntile_from_pos, sharded_global_row_number

    ev = load_table(spark, sf_dir, "events")
    v6 = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(v6).alias("units"))
    )
    # rank on DESC units: negate for the ascending sharded ranker
    ranked, total_n = sharded_global_row_number(
        spend.withColumn("neg_units", -F.col("units")),
        ["neg_units", "user_id"],
        pos_col="__pos",
    )
    tot = spend.agg(F.sum("units").alias("total"))
    share = F.floor(
        F.col("units_sum").cast("double") / F.col("total") * 1000000 + F.lit(0.5)
    ).cast("bigint") / 1000000.0
    return (
        ranked.withColumn(
            "decile", ntile_from_pos(F.col("__pos"), total_n, 10).cast("int")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum("units").alias("units_sum"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            F.col("units_sum").alias("units"),
            share.alias("share"),
        )
        .orderBy("decile")
    )


@register(
    "events_activity_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY dow, hod
    ORDER BY dow, hod
    """,
)
def events_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity heatmap — the dashboard
    staple behind every 'when are users active' panel: event and
    distinct-user counts per (dow, hod) cell. One hash agg to a
    fixed 7×24 cell space (map-side combine collapses it executor-
    locally; the exchange carries ≤168 keys however large the
    corpus), plus the distinct count riding the same exchange via
    Expand. Day-of-week numbering is pinned to the engines' SHARED
    convention (1=Sunday..7=Saturday for both Spark dayofweek and
    DuckDB dayofweek+1 — checked below) so the axes can't silently
    shift."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("dow", "hod")
    )


@register(
    "ml_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) % 1000000 AS p_u,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    )
    SELECT CAST(p_u // 100000 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p_u) // COUNT(*) AS BIGINT) AS mean_pred_ppm,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS frac_pos_ppm,
           CAST(FLOOR(CAST(SUM(CAST(p_u - y * 1000000 AS HUGEINT)
                               * (p_u - y * 1000000)) AS DOUBLE)
                      / COUNT(*) / 1000000 + 0.5) AS BIGINT) AS brier_ppm
    FROM scored
    GROUP BY p_u // 100000
    ORDER BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration reliability diagram + per-bin Brier score —
    the metric companion to ml_roc_auc: a predicted probability in
    micro-units (deterministically derived from the event value's
    fractional part) is equal-width-binned into 10 deciles; each bin
    reports its mean predicted probability vs the empirical positive
    rate (the calibration gap) and the mean squared error (Brier) in
    ppm. All accumulation is integer: probabilities are micro-unit
    BIGINTs and the squared-error sum runs in decimal(38,0) (sum of
    1e12-scale squares overflows BIGINT past ~9e6 rows — at sf1 the
    events table is already 1e7). One map-side-combinable hash agg
    over one scan; 10 output groups, so the exchange carries 10 rows
    per partition regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p_u = (
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint") % 1000000
    ).alias("p_u")
    y = (F.col("event_type") == "purchase").cast("bigint").alias("y")
    scored = ev.select(p_u, y)
    err = (F.col("p_u") - F.col("y") * 1000000).cast(_DEC)
    agg = scored.groupBy(
        F.expr("p_u DIV 100000").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p_u").alias("sp"),
        F.sum("y").alias("sy"),
        F.sum(err * err).alias("sq"),
    )
    return agg.select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        F.expr("sp DIV n").cast("bigint").alias("mean_pred_ppm"),
        F.expr("(sy * 1000000) DIV n").cast("bigint").alias("frac_pos_ppm"),
        F.floor(
            F.col("sq").cast("double") / F.col("n") / 1000000 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("brier_ppm"),
    ).orderBy("bin")


@register(
    "ml_quantile_normalize",
    oracle="""
    WITH r AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM documents
    ), g AS (
      SELECT n_chars AS qv,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS pos
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM documents),
    mapped AS (
      SELECT r.source,
             CAST((CAST(r.rn - 1 AS HUGEINT) * (tot.n - 1))
                  // (r.n_src - 1) + 1 AS BIGINT) AS idx
      FROM r CROSS JOIN tot
      WHERE r.n_src > 1
    )
    SELECT m.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(g.qv) AS BIGINT) AS sum_norm,
           CAST(MIN(g.qv) AS BIGINT) AS min_norm,
           CAST(MAX(g.qv) AS BIGINT) AS max_norm
    FROM mapped m JOIN g ON m.idx = g.pos
    GROUP BY m.source
    ORDER BY m.source
    """,
)
def ml_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization (the microarray-era
    transform, Bolstad et al. 2003, now standard for making feature
    distributions comparable across heterogeneous corpus sources):
    each document's n_chars is replaced by the GLOBAL empirical
    quantile at its within-source percent rank, so every source ends
    up with an identical value distribution. Rank mapping is exact
    integer: idx = (rn-1)(N-1) DIV (n_src-1) + 1 (decimal(38,0)
    product — rn*N overflows BIGINT at ~3e9×3e9 rows). The global
    order statistic table comes from operators/ranking.py's sharded
    two-pass row number — NO SinglePartition window at any corpus
    size; the within-source rank windows partition by source. The
    idx→value join shuffles on a bigint key, both sides
    corpus-linear. Output: per-source aggregates of the normalized
    column (count/sum/min/max) — equal sums across sources IS the
    property the transform promises, so the output is the proof."""
    from pyspark.sql import Window

    from fairy_spark.operators.ranking import sharded_global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    w_rn = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_n = Window.partitionBy("source")
    r = docs.select(
        "source",
        F.row_number().over(w_rn).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n_src"),
    )
    g, total = sharded_global_row_number(
        docs.select("n_chars", "doc_id"), ["n_chars", "doc_id"], pos_col="pos"
    )
    g = g.select(F.col("n_chars").alias("qv"), F.col("pos").cast("bigint"))
    mapped = r.filter(F.col("n_src") > 1).select(
        "source",
        F.expr(
            f"CAST((CAST(rn - 1 AS DECIMAL(38,0)) * {total - 1})"
            " DIV (n_src - 1) + 1 AS BIGINT)"
        ).alias("idx"),
    )
    return (
        mapped.join(g, mapped.idx == g.pos)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("qv").cast("bigint").alias("sum_norm"),
            F.min("qv").cast("bigint").alias("min_norm"),
            F.max("qv").cast("bigint").alias("max_norm"),
        )
        .orderBy("source")
    )


@register(
    "ml_record_linkage",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
             substr(c_name, -3) AS name_sfx
      FROM customer
    ), pairs AS (
      SELECT a.c_nationkey,
             CASE WHEN a.name_sfx = b.name_sfx THEN 25 ELSE -5 END
               + CASE WHEN ABS(a.cents - b.cents) < 1000 THEN 40 ELSE -10 END
               AS score
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_mktsegment = b.c_mktsegment
       AND a.cents // 10000 = b.cents // 10000
       AND a.c_custkey < b.c_custkey
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN score >= 65 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matches,
           CAST(SUM(score) AS BIGINT) AS sum_score
    FROM pairs
    GROUP BY c_nationkey
    ORDER BY nationkey
    """,
)
def ml_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (Fellegi-Sunter scoring shape): candidate
    duplicate customer records are generated ONLY within a composite
    blocking key (nation, segment, $100 balance bucket) — the standard
    entity-resolution blocking that keeps candidate pairs near-linear
    in corpus size (within-block pairs are O(b²) but b is bounded by
    the bucket width, the same discipline as dedup_ngram_jaccard's
    length-bucket blocking; an unblocked linkage is the all-pairs
    cross join the plan gates forbid). Each candidate pair scores
    field-agreement weights (name-suffix agreement +25/−5, balance
    within $10 +40/−10 — integer log-likelihood-ratio stand-ins) and
    pairs reaching the match threshold (both fields agree, ≥65) are
    counted. The self-join is an equi-join on the block key — shuffle
    co-partitioned, no broadcast of the corpus. Output: per-nation
    candidate-pair count, match count, and total score."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.substring(F.col("c_name"), -3, 3).alias("name_sfx"),
    )
    a, b = [
        c.select([F.col(x).alias(f"{p}_{x}") for x in c.columns])
        for p in ("a", "b")
    ]
    pairs = a.join(
        b,
        (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
        & (F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
        & (F.expr("a_cents DIV 10000") == F.expr("b_cents DIV 10000"))
        & (F.col("a_c_custkey") < F.col("b_c_custkey")),
    ).select(
        F.col("a_c_nationkey").alias("nationkey"),
        (
            F.when(F.col("a_name_sfx") == F.col("b_name_sfx"), 25).otherwise(-5)
            + F.when(
                F.abs(F.col("a_cents") - F.col("b_cents")) < 1000, 40
            ).otherwise(-10)
        ).alias("score"),
    )
    return (
        pairs.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum((F.col("score") >= 65).cast("bigint"))
            .cast("bigint")
            .alias("n_matches"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .select(
            F.col("nationkey").cast("bigint").alias("nationkey"),
            "n_pairs",
            "n_matches",
            "sum_score",
        )
        .orderBy("nationkey")
    )


@register(
    "ts_holt_forecast",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             COALESCE(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)), 0) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), seq AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ), rec AS (
      SELECT event_type, rn, n_days, l, b FROM (
        SELECT event_type, rn, n_days, x AS l, CAST(0 AS BIGINT) AS b
        FROM seq WHERE rn = 1
      )
      UNION ALL
      SELECT s.event_type, s.rn, s.n_days,
             (s.x + r.l + r.b) // 2 AS l,
             ((s.x + r.l + r.b) // 2 - r.l + r.b) // 2 AS b
      FROM rec r JOIN seq s
        ON s.event_type = r.event_type AND s.rn = r.rn + 1
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(l AS BIGINT) AS level6, CAST(b AS BIGINT) AS trend6,
           CAST(l + b AS BIGINT) AS f1,
           CAST(l + 2 * b AS BIGINT) AS f2,
           CAST(l + 3 * b AS BIGINT) AS f3
    FROM rec WHERE rn = n_days
    ORDER BY event_type
    """,
)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend; Holt 1957 /
    Hyndman's fpp — α=β=1/2) per event type over the daily value
    series, with a 3-step-ahead forecast f_h = level + h·trend. The
    recurrence l_t = (x_t + l + b)/2, b_t = (l_t − l + b)/2 is an
    inherently SEQUENTIAL per-key fold no window frame expresses, so
    it runs as an Arrow-batched applyInPandas over event_type groups —
    one pass over each key's day vector in Python ints (exact; the
    smoothing weights are powers of two so every state is an integer
    micro-unit after truncating division, mirrored by DuckDB's
    recursive CTE whose `//` truncates toward zero — NOT Python
    floor, hence the explicit trunc-div helper). Scale shape: the
    corpus-size work is the daily pre-aggregation (map-side-combined
    hash agg); the Python stage sees one row PER KEY-DAY (365 rows/key
    /year), so a 100-TB event log folds thousands of keys in parallel
    with bounded memory per group."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.coalesce(
            F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")),
            F.lit(0),
        ).alias("x")
    )

    def _tdiv2(n: int) -> int:
        # DuckDB's // truncates toward zero; Python's floors.
        return n // 2 if n >= 0 else -((-n) // 2)

    def holt(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("d")
        xs = [int(v) for v in pdf["x"]]
        lvl, b = xs[0], 0
        for x in xs[1:]:
            nl = _tdiv2(x + lvl + b)
            b = _tdiv2(nl - lvl + b)
            lvl = nl
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(xs)],
                "level6": [lvl],
                "trend6": [b],
                "f1": [lvl + b],
                "f2": [lvl + 2 * b],
                "f3": [lvl + 3 * b],
            }
        )

    out_schema = (
        "event_type string, n_days bigint, level6 bigint, trend6 bigint, "
        "f1 bigint, f2 bigint, f3 bigint"
    )
    return (
        daily.groupBy("event_type")
        .applyInPandas(holt, schema=out_schema)
        .orderBy("event_type")
    )


@register(
    "ts_sax_symbols",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             COALESCE(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)), 0) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), seq AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1 AS rn0,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ), segs AS (
      SELECT event_type, (rn0 * 8) // n AS seg,
             SUM(x) AS s, COUNT(*) AS c, MAX(n) AS n
      FROM seq GROUP BY event_type, (rn0 * 8) // n
    ), sym AS (
      SELECT event_type, seg, n,
             NTILE(4) OVER (PARTITION BY event_type ORDER BY s // c, seg) AS q
      FROM segs
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
           string_agg(substr('abcd', q, 1), '' ORDER BY seg) AS sax_word
    FROM sym GROUP BY event_type ORDER BY event_type
    """,
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic discretization (Lin, Keogh et al., DMKD 2007) of
    each event type's daily value series: the series is PAA-compressed
    into 8 equal-count segments (seg = ⌊(rn−1)·8/n⌋ — exact integer,
    no float boundaries), each segment's mean is taken in integer
    micro-units (truncating DIV, identical in both engines), and
    segments are mapped to a 4-letter alphabet by EMPIRICAL quartile
    (NTILE over the series' own segment means — the equi-depth variant
    of SAX's Gaussian breakpoints, chosen because it is exactly
    reproducible with no std-dev float). The resulting 8-char word is
    the series' shape fingerprint — the standard index key for motif
    discovery / whole-series matching. Scale shape: the corpus-sized
    work is the daily hash-agg; everything after runs on ≤8 rows per
    key inside key-partitioned windows — thousands of series
    discretize in parallel, no global sort, no single-partition
    frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.coalesce(
            F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")),
            F.lit(0),
        ).alias("x")
    )
    wseq = Window.partitionBy("event_type").orderBy("d")
    wcnt = Window.partitionBy("event_type")
    seq = daily.select(
        "event_type",
        "x",
        (F.row_number().over(wseq) - 1).alias("rn0"),
        F.count(F.lit(1)).over(wcnt).alias("n"),
    )
    segs = (
        seq.withColumn("seg", F.expr("(rn0 * 8) DIV n"))
        .groupBy("event_type", "seg")
        .agg(
            F.sum("x").alias("s"),
            F.count(F.lit(1)).alias("c"),
            F.max("n").alias("n"),
        )
    )
    wq = Window.partitionBy("event_type").orderBy(F.expr("s DIV c"), "seg")
    sym = segs.withColumn("q", F.ntile(4).over(wq)).withColumn(
        "sym", F.expr("substr('abcd', q, 1)")
    )
    return (
        sym.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg", "sym"))),
                    lambda s: s["sym"],
                ),
            ).alias("sax_word"),
        )
        .orderBy("event_type")
    )


@register(
    "ml_decision_stump",
    oracle="""
    WITH pts AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), bounds AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM pts
    ), binned AS (
      SELECT ((p.cents - b.lo) * 16) // (b.hi - b.lo + 1) AS bin, p.y
      FROM pts p CROSS JOIN bounds b
    ), bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tot, CAST(SUM(p) AS BIGINT) AS p_tot
      FROM bins
    ), cand AS (
      SELECT k, CAST(SUM(n) AS BIGINT) AS nl, CAST(SUM(p) AS BIGINT) AS pl
      FROM (SELECT UNNEST(generate_series(bin, 14)) AS k, n, p
            FROM bins WHERE bin <= 14)
      GROUP BY k
    ), scored AS (
      SELECT c.k, c.nl, c.pl,
             t.n_tot - c.nl AS nr, t.p_tot - c.pl AS pr,
             CAST((
               (CAST(c.pl AS HUGEINT) * c.pl
                + CAST(c.nl - c.pl AS HUGEINT) * (c.nl - c.pl))
                 * (t.n_tot - c.nl)
               + (CAST(t.p_tot - c.pl AS HUGEINT) * (t.p_tot - c.pl)
                  + CAST((t.n_tot - c.nl) - (t.p_tot - c.pl) AS HUGEINT)
                    * ((t.n_tot - c.nl) - (t.p_tot - c.pl)))
                 * c.nl
             ) * 1000000 // (CAST(c.nl AS HUGEINT) * (t.n_tot - c.nl))
             AS BIGINT) AS purity_score
      FROM cand c CROSS JOIN tot t
      WHERE c.nl > 0 AND c.nl < t.n_tot
    )
    SELECT k AS split_bin, nl, pl, nr, pr, purity_score
    FROM scored ORDER BY purity_score DESC, k LIMIT 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training (the 1-split CART/AdaBoost base
    learner) as pure relational algebra: label = is-purchase, feature
    = event value in cents, candidate splits = the 15 boundaries of 16
    equal-width bins between the global min/max. The split quality is
    the weighted Gini purity, maximized EXACTLY: minimizing weighted
    impurity Σ n_s·gini_s is algebraically maximizing
    ((pl²+ql²)·nr + (pr²+qr²)·nl) / (nl·nr), which is compared across
    candidates as one integer scaled by 1e6 (quotient stays under
    int64 up to ~10^12 rows; Spark-side numerators run in
    decimal(38,0), DuckDB mirrors in HUGEINT). The distributed shape
    is the classic two-pass histogram trainer (XGBoost/LightGBM's
    approx mode): pass 1 = 1-row min/max frame (broadcast); pass 2 =
    one map-side-combinable groupBy into ≤16 sufficient-stat rows;
    cumulative left-stats come from an explode(sequence(bin..14))
    re-aggregation — equi-ops only, no global window, no sort. The
    16-row candidate frame then scores driver-free and TakeOrdered
    picks the argmax (ties → smaller bin)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bounds = ev.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr("((cents - lo) * 16) DIV (hi - lo + 1)").alias("bin"), "y"
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
    )
    tot = bins.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("p").cast("bigint").alias("p_tot"),
    )
    cand = (
        bins.filter(F.col("bin") <= 14)
        .select(F.explode(F.expr("sequence(bin, 15)")).alias("k"), "n", "p")
        .filter(F.col("k") <= 14)
        .groupBy("k")
        .agg(
            F.sum("n").cast("bigint").alias("nl"),
            F.sum("p").cast("bigint").alias("pl"),
        )
    )
    d = "DECIMAL(38,0)"
    scored = (
        cand.crossJoin(F.broadcast(tot))
        .filter((F.col("nl") > 0) & (F.col("nl") < F.col("n_tot")))
        .selectExpr(
            "k",
            "nl",
            "pl",
            "n_tot - nl AS nr",
            "p_tot - pl AS pr",
            f"""CAST((
              (CAST(pl AS {d}) * pl + CAST(nl - pl AS {d}) * (nl - pl))
                * (n_tot - nl)
              + (CAST(p_tot - pl AS {d}) * (p_tot - pl)
                 + CAST((n_tot - nl) - (p_tot - pl) AS {d})
                   * ((n_tot - nl) - (p_tot - pl)))
                * nl
            ) * 1000000 DIV (CAST(nl AS {d}) * (n_tot - nl))
            AS BIGINT) AS purity_score""",
        )
    )
    return (
        scored.orderBy(F.desc("purity_score"), F.asc("k"))
        .limit(1)
        .select(
            F.col("k").alias("split_bin"), "nl", "pl", "nr", "pr", "purity_score"
        )
    )


@register(
    "events_bot_regularity",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS pt
      FROM events
    ), gaps AS (
      SELECT user_id, t - pt AS g FROM ev WHERE pt IS NOT NULL
    ), st AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             SUM(CAST(g AS HUGEINT)) AS s,
             SUM(CAST(g AS HUGEINT) * g) AS q
      FROM gaps GROUP BY user_id HAVING COUNT(*) >= 5
    )
    SELECT user_id, n_gaps,
           CAST(s // n_gaps AS BIGINT) AS mean_gap_us,
           CAST(((n_gaps * q - s * s) * 1000000) // (s * s) AS BIGINT) AS cv2_ppm
    FROM st ORDER BY cv2_ppm, user_id LIMIT 20
    """,
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot / automation detection by inter-event REGULARITY (the
    classic behavioral signal: scripted clients fire on timers, humans
    are bursty — low squared coefficient of variation of inter-event
    gaps flags the timers): per user, gaps between consecutive events
    in exact microseconds, then CV² = (n·Σg² − (Σg)²)/(Σg)² computed
    from two mergeable sufficient statistics and reported in ppm (one
    truncating DIV at the end — quotient bounded, intermediates in
    decimal(38,0)/HUGEINT since (Σg)² reaches ~1e27). The 20
    most-regular users surface via TakeOrdered. Scale shape: one
    per-user-partitioned LAG window + one map-side-combinable hash
    agg — both corpus-linear and skew-tolerant (a user's row count
    bounds its window frame); the sufficient-stat pair (Σg, Σg²) is
    the same mergeable-moment discipline as agg_stats_moments, so the
    scan parallelizes without accumulation-order sensitivity. At
    extreme per-user volumes (10^6+ events × decade spans) rescale
    gaps to milliseconds to keep n·Σg²·10^6 inside 38 digits."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — with the
    # session pinned to UTC the cast is wall-clock identity, matching
    # DuckDB's epoch_us on the naive timestamp.
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        ev.select("user_id", (t - F.lag(t).over(w)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    st = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum(F.col("g").cast(_DEC)).alias("s"),
            F.sum(F.col("g").cast(_DEC) * F.col("g")).alias("q"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    return (
        st.selectExpr(
            "user_id",
            "n_gaps",
            "CAST(s DIV n_gaps AS BIGINT) AS mean_gap_us",
            "CAST(((n_gaps * q - s * s) * 1000000) DIV (s * s) AS BIGINT)"
            " AS cv2_ppm",
        )
        .orderBy("cv2_ppm", "user_id")
        .limit(20)
    )


@register(
    "ml_item_cf",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem
    ), ic AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS ci FROM op GROUP BY i
    ), pairs AS (
      SELECT a.i AS ia, b.i AS ib, CAST(COUNT(*) AS BIGINT) AS cij
      FROM op a JOIN op b ON a.o = b.o AND a.i < b.i
      GROUP BY a.i, b.i HAVING COUNT(*) >= 2
    ), sym AS (
      SELECT ia AS item, ib AS rec, cij FROM pairs
      UNION ALL
      SELECT ib, ia, cij FROM pairs
    ), scored AS (
      SELECT s.item, s.rec, s.cij,
             CAST((CAST(s.cij AS HUGEINT) * s.cij * 1000000)
                  // (CAST(c1.ci AS HUGEINT) * c2.ci) AS BIGINT) AS sim_ppm
      FROM sym s
      JOIN ic c1 ON s.item = c1.i
      JOIN ic c2 ON s.rec = c2.i
    )
    SELECT item, CAST(rn AS INTEGER) AS rn, rec, cij AS c_pair, sim_ppm FROM (
      SELECT item, rec, cij, sim_ppm,
             ROW_NUMBER() OVER (PARTITION BY item
                                ORDER BY sim_ppm DESC, cij DESC, rec) AS rn
      FROM scored) WHERE rn <= 3
    ORDER BY item, rn
    """,
)
def ml_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al., WWW 2001 /
    the Amazon item-to-item patent family): co-purchase counts become
    per-item top-3 recommendations ranked by squared-cosine similarity
    cij²/(ci·cj), carried in exact integer ppm (decimal(38,0)/HUGEINT
    intermediates — cij²·10^6 passes int64 once pair counts reach
    ~10^6). The c_ij ≥ 2 support floor is the standard noise cut. The
    distributed shape is the one that scales: pair generation is the
    per-order self-join (fan-out bounded by basket size, never a
    corpus×corpus product — the graph_triangles discipline), counts
    are map-side-combinable hash aggs, similarity attaches via two
    equi-joins against the item-count table, and ranking is a per-item
    window. This is the neighborhood-method complement to
    ml_assoc_rules (support/confidence/lift on the same baskets)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i")
    ).distinct()
    ic = op.groupBy("i").agg(F.count(F.lit(1)).cast("bigint").alias("ci"))
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("ia"), F.col("b.i").alias("ib"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cij"))
        .filter(F.col("cij") >= 2)
    )
    sym = pairs.select(
        F.col("ia").alias("item"), F.col("ib").alias("rec"), "cij"
    ).unionAll(pairs.select(F.col("ib").alias("item"), F.col("ia").alias("rec"), "cij"))
    scored = (
        sym.join(ic.withColumnRenamed("i", "item").withColumnRenamed("ci", "c1"), "item")
        .join(ic.withColumnRenamed("i", "rec").withColumnRenamed("ci", "c2"), "rec")
        .selectExpr(
            "item",
            "rec",
            "cij",
            "CAST((CAST(cij AS DECIMAL(38,0)) * cij * 1000000)"
            " DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT) AS sim_ppm",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.desc("sim_ppm"), F.desc("cij"), F.asc("rec")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("item", "rn", "rec", F.col("cij").alias("c_pair"), "sim_ppm")
        .orderBy("item", "rn")
    )


@register(
    "ts_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             COALESCE(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)), 0) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tr AS (
      SELECT event_type, d, x,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN SUM(x) OVER w // 7 END AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, isodow(d) AS dow, x - trend AS dt
      FROM tr WHERE trend IS NOT NULL
    )
    SELECT event_type, CAST(dow AS INTEGER) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(dt) AS BIGINT) // COUNT(*) AS seasonal_micro
    FROM det GROUP BY event_type, dow
    ORDER BY event_type, dow
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal decomposition, the classical-decomposition
    core (Cleveland et al. 1990's loess replaced by its moving-average
    ancestor so every step is exact integer): trend = 7-day CENTERED
    moving average (emitted only where the frame is full — the
    standard edge rule), detrended = x − trend, weekly seasonal index
    = per-(series, ISO weekday) mean of the detrended values, in
    micro-units with one truncating DIV per output cell. Complements
    ts_seasonal_baseline (hour-of-day level means) by separating trend
    from seasonality instead of folding both into the baseline. Scale
    shape: the corpus-sized work is the daily hash-agg; the MA window
    is key-partitioned with a 7-row frame (bounded memory per key, no
    global sort), and the seasonal agg is map-side combinable — the
    whole decomposition is two shuffles regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.coalesce(
            F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")),
            F.lit(0),
        ).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type",
        "d",
        "x",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.expr("SUM(x) OVER (PARTITION BY event_type ORDER BY d "
                   "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"),
        ).alias("tsum"),
    ).withColumn("trend", F.expr("tsum DIV 7"))
    det = tr.filter(F.col("trend").isNotNull()).select(
        "event_type",
        (F.weekday("d") + 1).alias("dow"),
        (F.col("x") - F.col("trend")).alias("dt"),
    )
    return (
        det.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr("CAST(SUM(dt) AS BIGINT) DIV COUNT(*)").alias("seasonal_micro"),
        )
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "n_days",
            "seasonal_micro",
        )
        .orderBy("event_type", "dow")
    )


_ADA_SCORE = """CAST((
      (CAST(pl AS {w}) * pl + CAST(nl - pl AS {w}) * (nl - pl)) * (n_tot - nl)
      + (CAST(p_tot - pl AS {w}) * (p_tot - pl)
         + CAST((n_tot - nl) - (p_tot - pl) AS {w})
           * ((n_tot - nl) - (p_tot - pl))) * nl
    ) * 1000000 {div} (CAST(nl AS {w}) * (n_tot - nl)) AS BIGINT)"""


def _ada_round_sql(src: str, r: int) -> str:
    """One weighted-stump round as a DuckDB CTE block (bins → explode
    candidates → score → argmax best + side predictions)."""
    score = _ADA_SCORE.format(w="HUGEINT", div="//")
    return f"""r{r}bins AS (
      SELECT bin, CAST(SUM(w) AS BIGINT) AS n, CAST(SUM(w * y) AS BIGINT) AS p
      FROM {src} GROUP BY bin
    ), r{r}tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tot, CAST(SUM(p) AS BIGINT) AS p_tot
      FROM r{r}bins
    ), r{r}cand AS (
      SELECT k, CAST(SUM(n) AS BIGINT) AS nl, CAST(SUM(p) AS BIGINT) AS pl
      FROM (SELECT UNNEST(generate_series(bin, 14)) AS k, n, p
            FROM r{r}bins WHERE bin <= 14)
      GROUP BY k
    ), r{r}best AS (
      SELECT c.k, c.nl, c.pl, t.n_tot, t.p_tot, {score} AS purity
      FROM r{r}cand c CROSS JOIN r{r}tot t
      WHERE c.nl > 0 AND c.nl < t.n_tot
      ORDER BY purity DESC, c.k LIMIT 1
    ), r{r}pred AS (
      SELECT k, n_tot,
             CASE WHEN 2 * pl >= nl THEN 1 ELSE 0 END AS pred_l,
             CASE WHEN 2 * (p_tot - pl) >= (n_tot - nl) THEN 1 ELSE 0 END
               AS pred_r
      FROM r{r}best
    ), r{r}out AS (
      SELECT {r} AS round, b.k AS split_bin, p.pred_l, p.pred_r,
             CAST(SUM(CASE WHEN s.y <> (CASE WHEN s.bin <= b.k THEN p.pred_l
                                             ELSE p.pred_r END)
                           THEN s.w ELSE 0 END) * 1000000
                  // SUM(s.w) AS BIGINT) AS err_ppm
      FROM {src} s CROSS JOIN r{r}best b CROSS JOIN r{r}pred p
      GROUP BY b.k, p.pred_l, p.pred_r
    )"""


@register(
    "ml_adaboost_stumps",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), bounds AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM pts
    ), b0 AS (
      SELECT ((p.cents - b.lo) * 16) // (b.hi - b.lo + 1) AS bin, p.y,
             CAST(1 AS BIGINT) AS w
      FROM pts p CROSS JOIN bounds b
    ), {_ada_round_sql("b0", 1)}, b1 AS (
      SELECT s.bin, s.y,
             CASE WHEN s.y <> (CASE WHEN s.bin <= b.k THEN p.pred_l
                                    ELSE p.pred_r END)
                  THEN CAST(3 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS w
      FROM b0 s CROSS JOIN r1best b CROSS JOIN r1pred p
    ), {_ada_round_sql("b1", 2)}
    SELECT * FROM r1out UNION ALL SELECT * FROM r2out ORDER BY round
    """,
)
def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two AdaBoost rounds over decision stumps (Freund & Schapire
    1997), entirely in relational algebra with integer arithmetic:
    round 1 trains the histogram stump (the ml_decision_stump
    machinery, weight-generalized), assigns each SIDE its weighted
    majority label, then misclassified rows get weight ×3 (the
    integer-exact stand-in for the e^α reweight) and round 2 retrains
    on the reweighted corpus — the boosted learner provably shifts its
    split toward round 1's mistakes, and each round reports its
    weighted training error in ppm. Distributed shape per round: one
    map-side-combinable (bin → Σw, Σwy) hash agg over the corpus +
    bounded 16-row candidate scoring; the round-1 model (one row) is
    collected driver-side and embedded as literals in round 2's
    weight expression — the bounded-model-collect discipline of
    ivf_exact_topk's seeds. N rounds = N linear scans, no shuffle
    growth."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bounds = ev.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    b0 = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr("((cents - lo) * 16) DIV (hi - lo + 1)").alias("bin"),
        "y",
        F.lit(1).cast("bigint").alias("w"),
    )
    score = _ADA_SCORE.format(w="DECIMAL(38,0)", div="DIV")

    def stump_round(rows: DataFrame):
        bins = rows.groupBy("bin").agg(
            F.sum("w").cast("bigint").alias("n"),
            F.sum(F.col("w") * F.col("y")).cast("bigint").alias("p"),
        )
        tot = bins.agg(
            F.sum("n").cast("bigint").alias("n_tot"),
            F.sum("p").cast("bigint").alias("p_tot"),
        )
        cand = (
            bins.filter(F.col("bin") <= 14)
            .select(F.explode(F.expr("sequence(bin, 15)")).alias("k"), "n", "p")
            .filter(F.col("k") <= 14)
            .groupBy("k")
            .agg(
                F.sum("n").cast("bigint").alias("nl"),
                F.sum("p").cast("bigint").alias("pl"),
            )
        )
        best = (
            cand.crossJoin(F.broadcast(tot))
            .filter((F.col("nl") > 0) & (F.col("nl") < F.col("n_tot")))
            .selectExpr("k", "nl", "pl", "n_tot", "p_tot", f"{score} AS purity")
            .orderBy(F.desc("purity"), F.asc("k"))
            .limit(1)
            .collect()[0]
        )
        pred_l = 1 if 2 * best["pl"] >= best["nl"] else 0
        pred_r = (
            1
            if 2 * (best["p_tot"] - best["pl"]) >= (best["n_tot"] - best["nl"])
            else 0
        )
        return best, pred_l, pred_r

    best1, pl1, pr1 = stump_round(b0)
    err1 = b0.agg(
        F.expr(
            f"CAST(SUM(CASE WHEN y <> (CASE WHEN bin <= {int(best1['k'])} "
            f"THEN {pl1} ELSE {pr1} END) THEN w ELSE 0 END) * 1000000"
            " DIV SUM(w) AS BIGINT)"
        ).alias("err_ppm")
    )
    b1 = b0.select(
        "bin",
        "y",
        F.expr(
            f"CAST(CASE WHEN y <> (CASE WHEN bin <= {int(best1['k'])} "
            f"THEN {pl1} ELSE {pr1} END) THEN 3 ELSE 1 END AS BIGINT)"
        ).alias("w"),
    )
    best2, pl2, pr2 = stump_round(b1)
    err2 = b1.agg(
        F.expr(
            f"CAST(SUM(CASE WHEN y <> (CASE WHEN bin <= {int(best2['k'])} "
            f"THEN {pl2} ELSE {pr2} END) THEN w ELSE 0 END) * 1000000"
            " DIV SUM(w) AS BIGINT)"
        ).alias("err_ppm")
    )
    r1 = err1.select(
        F.lit(1).cast("int").alias("round"),
        F.lit(int(best1["k"])).cast("bigint").alias("split_bin"),
        F.lit(pl1).cast("int").alias("pred_l"),
        F.lit(pr1).cast("int").alias("pred_r"),
        "err_ppm",
    )
    r2 = err2.select(
        F.lit(2).cast("int").alias("round"),
        F.lit(int(best2["k"])).cast("bigint").alias("split_bin"),
        F.lit(pl2).cast("int").alias("pred_l"),
        F.lit(pr2).cast("int").alias("pred_r"),
        "err_ppm",
    )
    return r1.unionAll(r2).orderBy("round")


@register(
    "ts_acf_multi_lag",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             COALESCE(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)), 0) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), lagged AS (
      SELECT event_type, x,
             LAG(x, 1) OVER w AS l1, LAG(x, 2) OVER w AS l2,
             LAG(x, 3) OVER w AS l3, LAG(x, 7) OVER w AS l7
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), stacked AS (
      SELECT event_type, 1 AS lag, x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
      UNION ALL
      SELECT event_type, 2, x, l2 FROM lagged WHERE l2 IS NOT NULL
      UNION ALL
      SELECT event_type, 3, x, l3 FROM lagged WHERE l3 IS NOT NULL
      UNION ALL
      SELECT event_type, 7, x, l7 FROM lagged WHERE l7 IS NOT NULL
    ), s AS (
      SELECT event_type, lag, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM stacked GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                      / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                         * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS acf
    FROM s
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY event_type, lag
    """,
)
def ts_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags {1,2,3,7} per event type's
    daily series — the Box-Jenkins identification diagnostic (is there
    weekly structure? how fast does memory decay?) that complements
    ts_rolling_corr's per-row trailing lag-1. ONE key-partitioned
    window pass computes all four lag columns (same window spec → one
    exchange), a stack() widens them into (lag, x, y) pairs, and each
    (series, lag) cell reduces to the six exact co-sums feeding the
    closed-form Pearson r — decimal(38,0)/HUGEINT sums, one fixed IEEE
    sequence per output cell rounded via the shared round6 midpoint
    rule, so engines agree bit-for-bit. Corpus-sized work is the daily
    hash-agg; everything downstream is rows-per-series-sized."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.coalesce(
            F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")),
            F.lit(0),
        ).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("l1"),
        F.lag("x", 2).over(w).alias("l2"),
        F.lag("x", 3).over(w).alias("l3"),
        F.lag("x", 7).over(w).alias("l7"),
    )
    stacked = lagged.selectExpr(
        "event_type",
        "stack(4, 1, x, l1, 2, x, l2, 3, x, l3, 7, x, l7) AS (lag, x, y)",
    ).filter(F.col("y").isNotNull())
    xd, yd = F.col("x").cast(_DEC), F.col("y").cast(_DEC)
    s = stacked.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    return (
        s.filter(
            (F.expr("n * sxx - sx * sx") > 0) & (F.expr("n * syy - sy * sy") > 0)
        )
        .selectExpr(
            "event_type",
            "CAST(lag AS INTEGER) AS lag",
            "CAST(n AS BIGINT) AS n_pairs",
            """CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                          / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                             * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                          * 1000000 + 0.5) AS BIGINT) / CAST(1000000.0 AS DOUBLE)
               AS acf""",
        )
        .orderBy("event_type", "lag")
    )


@register(
    "ml_mutual_information",
    oracle="""
    WITH pts AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ), bounds AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM pts
    ), binned AS (
      SELECT ((p.cents - b.lo) * 16) // (b.hi - b.lo + 1) AS bin, p.y
      FROM pts p CROSS JOIN bounds b
    ), cells AS (
      SELECT bin, y, CAST(COUNT(*) AS BIGINT) AS nxy FROM binned GROUP BY bin, y
    ), margx AS (
      SELECT bin, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY bin
    ), margy AS (
      SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY y
    ), tot AS (
      SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cells
    ), contrib AS (
      SELECT c.bin, c.y,
             CAST(FLOOR(
               (CAST(c.nxy AS DOUBLE) / t.n)
               * LN(CAST(c.nxy AS DOUBLE) * t.n
                    / (CAST(mx.nx AS DOUBLE) * my.ny))
               * 1000000000 + 0.5) AS BIGINT) AS mi_nano
      FROM cells c
      JOIN margx mx ON c.bin = mx.bin
      JOIN margy my ON c.y = my.y
      CROSS JOIN tot t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(mi_nano) AS BIGINT) AS mi_nano
    FROM contrib
    """,
)
def ml_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between the binned event value and
    the is-purchase label — the model-free feature-relevance screen
    (information-gain feature selection; also the split criterion
    ml_decision_stump's Gini approximates): each of the ≤32
    (bin, label) cells contributes (n_xy/n)·ln(n_xy·n/(n_x·n_y)),
    computed as ONE fixed IEEE sequence per cell and floored to
    integer nano-nats BEFORE summing — per-cell quantization makes
    the reduction an order-independent integer sum, sidestepping the
    float-accumulation-order trap that would make a distributed
    Σ of doubles engine-divergent (the stats_survival_km quantized-log
    discipline). Distributed shape: one corpus hash-agg to cells; the
    marginal joins and the final sum touch ≤32 rows."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bounds = ev.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr("((cents - lo) * 16) DIV (hi - lo + 1)").alias("bin"), "y"
    )
    cells = binned.groupBy("bin", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("nxy")
    )
    margx = cells.groupBy("bin").agg(F.sum("nxy").cast("bigint").alias("nx"))
    margy = cells.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = cells.agg(F.sum("nxy").cast("bigint").alias("n"))
    contrib = (
        cells.join(F.broadcast(margx), "bin")
        .join(F.broadcast(margy), "y")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            """CAST(FLOOR(
                 (CAST(nxy AS DOUBLE) / n)
                 * LN(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny))
                 * 1000000000 + 0.5) AS BIGINT) AS mi_nano"""
        )
    )
    return contrib.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("mi_nano").cast("bigint").alias("mi_nano"),
    )


@register(
    "ts_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             COALESCE(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)), 0) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), fr AS (
      SELECT event_type, d, x,
             list_sort(list(x) OVER w) AS frame
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(d AS TIMESTAMP) AS d, CAST(x AS BIGINT) AS x,
           CAST(len(frame) AS BIGINT) AS n_in_frame,
           CAST(frame[(len(frame) + 1) // 2] AS BIGINT) AS med7,
           CAST(ABS(x - frame[(len(frame) + 1) // 2]) AS BIGINT) AS abs_dev
    FROM fr ORDER BY event_type, d
    """,
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling MEDIAN per series — the robust baseline
    that ts_zscore_anomaly's mean/σ cannot give (one spike poisons a
    trailing mean for the whole window; it moves a median by at most
    one rank). Exact by construction: the ≤7-row frame materializes
    as a sorted integer array and the LOWER median is element
    (n+1) DIV 2 — no percentile interpolation, no float, identical in
    both engines (the agg_percentiles exact-selection discipline
    applied to a moving frame). Scale shape: one key-partitioned
    window whose state is the 7-element frame — constant memory per
    row, corpus-linear, no global sort; collect-then-sort is safe
    ONLY because the frame is bounded by the window spec, never by
    data (contrast the forbidden unbounded collect_list). The
    absolute deviation column is the input the hampel/MAD outlier
    rule consumes downstream."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.coalesce(
            F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")),
            F.lit(0),
        ).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    fr = daily.select(
        "event_type",
        F.col("d").cast("timestamp").alias("d"),
        "x",
        F.sort_array(F.collect_list("x").over(w)).alias("frame"),
    )
    return fr.selectExpr(
        "event_type",
        "d",
        "x",
        "CAST(size(frame) AS BIGINT) AS n_in_frame",
        "element_at(frame, CAST((size(frame) + 1) DIV 2 AS INT)) AS med7",
        "CAST(ABS(x - element_at(frame, CAST((size(frame) + 1) DIV 2 AS INT)))"
        " AS BIGINT)"
        " AS abs_dev",
    ).orderBy("event_type", "d")


@register(
    "events_longest_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), isl AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM days
    ), runs AS (
      SELECT user_id, island,
             CAST(COUNT(*) AS BIGINT) AS streak_days,
             MIN(d) AS streak_start
      FROM isl GROUP BY user_id, island
    ), best AS (
      SELECT user_id, streak_days, CAST(streak_start AS TIMESTAMP)
               AS streak_start,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, streak_start) AS r
      FROM runs
    )
    SELECT user_id, streak_days, streak_start
    FROM best WHERE r = 1
    ORDER BY streak_days DESC, user_id LIMIT 25
    """,
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (the engagement
    metric product teams rank users by), via the classic
    gaps-and-islands identity: for distinct active days in order,
    d − row_number is CONSTANT exactly across a run of consecutive
    dates, so a hash-agg on (user, island) yields every streak with
    no self-join and no per-row loop. Top-25 by (streak, user) via
    TakeOrdered. Scale shape: distinct-day projection collapses the
    event corpus to ≤ users×days rows; one key-partitioned window +
    two map-side-combinable aggs — the same discipline as
    events_error_bursts (value-run islands), here on the calendar
    axis. Earliest streak wins per-user ties (deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
        F.min("d").cast("timestamp").alias("streak_start"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("streak_start")
    )
    return (
        runs.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("user_id", "streak_days", "streak_start")
        .orderBy(F.desc("streak_days"), F.asc("user_id"))
        .limit(25)
    )


@register(
    "events_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort FROM events
      GROUP BY user_id
    ), rev AS (
      SELECT f.cohort,
             CAST(datediff('day', CAST(f.cohort AS DATE),
                           CAST(date_trunc('week', e.ts) AS DATE)) // 7
                  AS INTEGER) AS age,
             CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) AS cents
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
    ), cohort_size AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS users FROM firsts
      GROUP BY cohort
    ), cell AS (
      SELECT cohort, age, CAST(SUM(cents) AS BIGINT) AS rev_cents
      FROM rev GROUP BY cohort, age
    ), curve AS (
      SELECT cohort, age,
             CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age)
                  AS BIGINT) AS cum_rev_cents
      FROM cell
    )
    SELECT CAST(c.cohort AS TIMESTAMP) AS cohort, c.age, s.users,
           c.cum_rev_cents,
           c.cum_rev_cents // s.users AS ltv_cents
    FROM curve c JOIN cohort_size s ON c.cohort = s.cohort
    ORDER BY cohort, age
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — cumulative revenue per signup-week cohort
    by cohort AGE in weeks, divided by cohort size for the
    lifetime-value-to-date a growth team actually plots (the revenue
    companion to events_retention's activity matrix). Exact integer
    cents end-to-end; the running sum is a window over the
    cohort×age AGGREGATE (months² rows, not events), so the only
    corpus-scale work is two hash-aggs (first-event per user, revenue
    per cell) and one user→cohort equi-join — the window never sees
    raw events and the whole curve is shuffle-bounded by the calendar,
    not the data."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort",
            F.expr(
                "datediff(CAST(date_trunc('week', ts) AS DATE),"
                " CAST(cohort AS DATE)) DIV 7"
            )
            .cast("int")
            .alias("age"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        )
    )
    cohort_size = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("users")
    )
    cell = rev.groupBy("cohort", "age").agg(
        F.sum("cents").cast("bigint").alias("rev_cents")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = cell.withColumn(
        "cum_rev_cents", F.sum("rev_cents").over(w).cast("bigint")
    )
    return (
        curve.join(cohort_size, "cohort")
        .selectExpr(
            "CAST(cohort AS TIMESTAMP) AS cohort",
            "age",
            "users",
            "cum_rev_cents",
            "cum_rev_cents DIV users AS ltv_cents",
        )
        .orderBy("cohort", "age")
    )


@register(
    "events_window_funnel",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    v AS (SELECT user_id, us AS t1 FROM e WHERE event_type = 'view'),
    a2 AS (
      SELECT v.user_id, v.t1, MIN(c.us) AS t2
      FROM v LEFT JOIN e c
        ON c.user_id = v.user_id AND c.event_type = 'click'
       AND c.us > v.t1 AND c.us <= v.t1 + 21600000000
      GROUP BY v.user_id, v.t1
    ),
    a3 AS (
      SELECT a2.user_id, a2.t1, a2.t2, MIN(p.us) AS t3
      FROM a2 LEFT JOIN e p
        ON p.user_id = a2.user_id AND p.event_type = 'purchase'
       AND p.us > a2.t2 AND p.us <= a2.t1 + 21600000000
      GROUP BY a2.user_id, a2.t1, a2.t2
    ),
    u AS (
      SELECT user_id,
             MAX(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                   + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS max_step
      FROM a3 GROUP BY user_id
    ),
    f AS (
      SELECT s.step, CAST(COUNT(u.user_id) AS BIGINT) AS n_users
      FROM (VALUES (1), (2), (3)) s(step)
      LEFT JOIN u ON u.max_step >= s.step
      GROUP BY s.step
    )
    SELECT step, n_users,
           CASE WHEN (SELECT n_users FROM f WHERE step = 1) > 0
                THEN n_users * 1000000 // (SELECT n_users FROM f WHERE step = 1)
                ELSE 0 END AS conv_ppm
    FROM f
    ORDER BY step
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel (the ClickHouse/Snowplow sequence-conversion
    primitive, public): per user, the longest ordered chain
    view → click → purchase where every later step lands within 6
    HOURS OF THE ANCHOR view and strictly after the previous step —
    greedy-earliest chaining (each step takes the MIN qualifying
    timestamp), which is deterministic and what the funnel owner
    means by "converted within the window". Distinct from
    `events_funnel` (fixed 2-step, per-user min) and
    `events_sequence_match` (order pattern without a time window).

    Plan: anchors = view events; two LEFT interval joins, each an
    equi-join on user_id with the time range riding INSIDE the join
    condition (the events_funnel streaming-safe shape) followed by a
    min-agg — cost ∝ Σ per-user views×clicks, corpus-linear under
    bounded per-user activity, never a cartesian. Time arithmetic in
    exact µs epochs (unix_micros/epoch_us — no interval-type
    portability risk). Output: users reaching ≥ each step + exact
    integer-ppm conversion vs the step-1 population."""
    W = 21600000000  # 6 h in µs
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    v = e.filter(F.col("event_type") == "view").select("user_id", F.col("us").alias("t1"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("us").alias("cus")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("us").alias("pus")
    )
    a2 = (
        v.join(
            c,
            (F.col("cu") == F.col("user_id"))
            & (F.col("cus") > F.col("t1"))
            & (F.col("cus") <= F.col("t1") + W),
            "left",
        )
        .groupBy("user_id", "t1")
        .agg(F.min("cus").alias("t2"))
    )
    a3 = (
        a2.join(
            p,
            (F.col("pu") == F.col("user_id"))
            & (F.col("pus") > F.col("t2"))
            & (F.col("pus") <= F.col("t1") + W),
            "left",
        )
        .groupBy("user_id", "t1", "t2")
        .agg(F.min("pus").alias("t3"))
    )
    u = a3.groupBy("user_id").agg(
        F.max(
            F.lit(1)
            + F.col("t2").isNotNull().cast("int")
            + F.col("t3").isNotNull().cast("int")
        ).alias("max_step")
    )
    # users reaching >= s: one row per (user, step<=max_step) via a
    # bounded explode (3 rows max per user), then a hash agg — an
    # equi-join against the static step grid fills zero-user steps, so
    # no non-equi (nested-loop) join ever plans
    u2 = u.select(F.explode(F.sequence(F.lit(1), F.col("max_step"))).alias("step"))
    counts = u2.groupBy("step").agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    steps = spark.range(1, 4).select(F.col("id").cast("int").alias("step"))
    f = (
        steps.join(counts, "step", "left")
        .withColumn("n_users", F.coalesce("n_users", F.lit(0).cast("bigint")))
    )
    # scalar agg ALWAYS yields exactly one row (even on a degenerate
    # corpus with zero step-1 users), unlike a filtered frame; the
    # division is guarded on both engine and oracle so a zero base
    # reports conv_ppm = 0 instead of div-by-zero/NULL divergence
    base = f.agg(
        F.coalesce(
            F.max(F.when(F.col("step") == 1, F.col("n_users"))),
            F.lit(0).cast("bigint"),
        ).alias("base")
    )
    return (
        f.crossJoin(F.broadcast(base))
        .select(
            "step",
            "n_users",
            F.expr(
                "CASE WHEN base > 0 THEN n_users * 1000000L DIV base ELSE 0 END"
            ).alias("conv_ppm"),
        )
        .orderBy("step")
    )


@register(
    "events_window_funnel_strict",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    seq AS (
      SELECT user_id, event_type, us,
             lead(event_type, 1) OVER w AS nxt_type,
             lead(us, 1) OVER w AS nxt_us,
             lead(event_type, 2) OVER w AS nxt2_type,
             lead(us, 2) OVER w AS nxt2_us
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    a AS (
      SELECT user_id,
             CASE WHEN nxt_type = 'click' AND nxt_us <= us + 21600000000 THEN 1 ELSE 0 END AS s2,
             CASE WHEN nxt_type = 'click' AND nxt_us <= us + 21600000000
                   AND nxt2_type = 'purchase' AND nxt2_us <= us + 21600000000
                  THEN 1 ELSE 0 END AS s3
      FROM seq WHERE event_type = 'view'
    ),
    u AS (SELECT user_id, MAX(1 + s2 + s3) AS max_step FROM a GROUP BY user_id),
    f AS (
      SELECT s.step, CAST(COUNT(u.user_id) AS BIGINT) AS n_users
      FROM (VALUES (1), (2), (3)) s(step)
      LEFT JOIN u ON u.max_step >= s.step
      GROUP BY s.step
    )
    SELECT step, n_users,
           CASE WHEN (SELECT n_users FROM f WHERE step = 1) > 0
                THEN n_users * 1000000 // (SELECT n_users FROM f WHERE step = 1)
                ELSE 0 END AS conv_ppm
    FROM f
    ORDER BY step
    """,
)
def events_window_funnel_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel in STRICT-ORDER mode (ClickHouse's strict_order
    option, public): the chain view -> click -> purchase only counts
    when the steps are CONSECUTIVE in the user's full event stream —
    ANY interleaving event (an error, a signup, even a second view)
    interrupts the sequence, unlike `events_window_funnel`'s greedy
    form, which skips over unrelated events. Same 6-hour anchor
    window, same output grid (users reaching >= each step + exact
    integer-ppm conversion, zero-base guarded).

    Plan: a completely different — and cheaper — shape than the greedy
    funnel's two interval joins: ONE window pass per user (lead(1)/
    lead(2) over (user_id, time, event_id) — event_id breaks timestamp
    ties so the sequence, and with it the verdict, is deterministic on
    both engines), then the hash-agg grid. One shuffle keyed on
    user_id, corpus-linear, no join at all — strictness makes the
    funnel CHEAPER at 100 TB, not dearer."""
    W = 21600000000  # 6 h in us
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        "us",
        F.lead("event_type", 1).over(w).alias("nxt_type"),
        F.lead("us", 1).over(w).alias("nxt_us"),
        F.lead("event_type", 2).over(w).alias("nxt2_type"),
        F.lead("us", 2).over(w).alias("nxt2_us"),
    )
    s2 = (F.col("nxt_type") == "click") & (F.col("nxt_us") <= F.col("us") + W)
    s3 = (
        s2
        & (F.col("nxt2_type") == "purchase")
        & (F.col("nxt2_us") <= F.col("us") + W)
    )
    # when/otherwise, NOT a boolean cast: on the user's last event the
    # leads are NULL, and a NULL condition must grade as 0 (the
    # oracle's CASE semantics), not propagate NULL into the max_step
    a = seq.filter(F.col("event_type") == "view").select(
        "user_id",
        F.when(s2, 1).otherwise(0).alias("s2"),
        F.when(s3, 1).otherwise(0).alias("s3"),
    )
    u = a.groupBy("user_id").agg(
        F.max(F.lit(1) + F.col("s2") + F.col("s3")).alias("max_step")
    )
    u2 = u.select(F.explode(F.sequence(F.lit(1), F.col("max_step"))).alias("step"))
    counts = u2.groupBy("step").agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    steps = spark.range(1, 4).select(F.col("id").cast("int").alias("step"))
    f = (
        steps.join(counts, "step", "left")
        .withColumn("n_users", F.coalesce("n_users", F.lit(0).cast("bigint")))
    )
    base = f.agg(
        F.coalesce(
            F.max(F.when(F.col("step") == 1, F.col("n_users"))),
            F.lit(0).cast("bigint"),
        ).alias("base")
    )
    return (
        f.crossJoin(F.broadcast(base))
        .select(
            "step",
            "n_users",
            F.expr(
                "CASE WHEN base > 0 THEN n_users * 1000000L DIV base ELSE 0 END"
            ).alias("conv_ppm"),
        )
        .orderBy("step")
    )
