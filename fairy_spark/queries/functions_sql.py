"""Scalar function families (SURVEY.md §2.B scalar functions): string,
math, hash, date/time, array (+HOFs), map, json, null-handling.

Everything is a built-in pyspark.sql.functions expression — JVM-side,
inside whole-stage codegen; no Python UDFs anywhere on this surface.
Oracle notes: DuckDB returns BIGINT where Spark returns INT for parts
of the date family (explicit casts align them), and DuckDB's sign()
is integer vs Spark's double signum (cast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from fairy_spark.queries import register
from fairy_spark.sources.tables import load_table


@register(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           UPPER(p_name) AS uname,
           LOWER(p_brand) AS lbrand,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           SUBSTRING(p_name, 1, 5) AS name5,
           TRIM(RPAD(p_brand, 12, ' ')) AS trimmed,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size4,
           REPLACE(p_type, ' ', '_') AS type_u,
           CAST(INSTR(p_name, 'a') AS BIGINT) AS first_a,
           STRING_SPLIT(p_name, ' ')[1] AS first_word,
           STARTS_WITH(p_name, 'a') AS starts_a,
           CAST(p_name LIKE '%x' AS BOOLEAN) AS ends_x,
           REGEXP_EXTRACT(p_type, '([A-Z]+)', 1) AS type_caps,
           REGEXP_REPLACE(p_name, '[aeiou]', '*', 'g') AS devoweled,
           REVERSE(p_brand) AS rbrand,
           REPEAT(p_brand, 2) AS brand2
    FROM part
    ORDER BY p_partkey
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.upper("p_name").alias("uname"),
            F.lower("p_brand").alias("lbrand"),
            F.length("p_name").alias("name_len"),
            F.substring("p_name", 1, 5).alias("name5"),
            F.trim(F.rpad("p_brand", 12, " ")).alias("trimmed"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_u"),
            F.instr("p_name", "a").cast("bigint").alias("first_a"),
            F.split("p_name", " ").getItem(0).alias("first_word"),
            F.col("p_name").startswith("a").alias("starts_a"),
            F.col("p_name").endswith("x").alias("ends_x"),
            F.regexp_extract("p_type", r"([A-Z]+)", 1).alias("type_caps"),
            F.regexp_replace("p_name", r"[aeiou]", "*").alias("devoweled"),
            F.reverse("p_brand").alias("rbrand"),
            F.repeat("p_brand", 2).alias("brand2"),
        )
        .orderBy("p_partkey")
    )


@register(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice + l_tax, 6) AS add_v,
           ROUND(l_extendedprice - l_discount, 6) AS sub_v,
           ROUND(l_quantity * l_discount, 6) AS mul_v,
           CAST(FLOOR(l_extendedprice / l_quantity * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS div_v,
           CAST(((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS BIGINT) AS pmod7,
           ROUND(ABS(l_discount - 0.05), 6) AS abs_v,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_v,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_v,
           ROUND(POW(l_quantity, 2), 6) AS pow_v,
           ROUND(SQRT(l_quantity), 6) AS sqrt_v,
           ROUND(EXP(l_discount), 6) AS exp_v,
           ROUND(LN(l_quantity + 1), 6) AS ln_v,
           ROUND(LOG10(l_extendedprice), 6) AS log10_v,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS sign_v,
           ROUND(GREATEST(l_quantity, l_discount * 100), 6) AS greatest_v,
           ROUND(LEAST(l_quantity, l_discount * 100), 6) AS least_v
    FROM lineitem
    WHERE l_orderkey <= 200
    ORDER BY l_orderkey, l_linenumber
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") + F.col("l_tax"), 6).alias("add_v"),
            F.round(F.col("l_extendedprice") - F.col("l_discount"), 6).alias("sub_v"),
            F.round(F.col("l_quantity") * F.col("l_discount"), 6).alias("mul_v"),
            # floor(x*1e6 + 0.5): ROUND() near a 1e-6 midpoint disagrees
            # between Spark (BigDecimal of the exact double) and DuckDB
            # (*1e6 + libm round); this form is the same IEEE expression
            # tree on both engines, so quotients round identically.
            (
                F.floor(
                    F.col("l_extendedprice") / F.col("l_quantity") * 1000000 + 0.5
                ).cast("bigint")
                / 1000000.0
            ).alias("div_v"),
            F.pmod(F.col("l_orderkey"), F.lit(7)).cast("bigint").alias("pmod7"),
            F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("abs_v"),
            F.floor("l_extendedprice").cast("bigint").alias("floor_v"),
            F.ceil("l_extendedprice").cast("bigint").alias("ceil_v"),
            F.round(F.pow("l_quantity", F.lit(2)), 6).alias("pow_v"),
            F.round(F.sqrt("l_quantity"), 6).alias("sqrt_v"),
            F.round(F.exp("l_discount"), 6).alias("exp_v"),
            F.round(F.log(F.col("l_quantity") + 1), 6).alias("ln_v"),
            F.round(F.log10("l_extendedprice"), 6).alias("log10_v"),
            F.signum(F.col("l_discount") - 0.05).alias("sign_v"),
            F.round(F.greatest(F.col("l_quantity"), F.col("l_discount") * 100), 6).alias(
                "greatest_v"
            ),
            F.round(F.least(F.col("l_quantity"), F.col("l_discount") * 100), 6).alias(
                "least_v"
            ),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "fn_hash",
    oracle="""
    SELECT doc_id,
           MD5(text) AS md5_hex,
           SHA256(text) AS sha256_hex
    FROM documents
    WHERE doc_id <= 50
    ORDER BY doc_id
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 short_hash generalized to content hashing: MD5 and SHA-256
    hex digests, which both engines compute identically. xxhash64,
    crc32 and F.hash are engine-specific bit-mixes with no DuckDB
    counterpart, so this row computes neither."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return (
        d.select(
            "doc_id",
            F.md5("text").alias("md5_hex"),
            F.sha2("text", 256).alias("sha256_hex"),
        )
        .orderBy("doc_id")
    )


@register(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INTEGER) AS y,
           CAST(MONTH(o_orderdate) AS INTEGER) AS m,
           CAST(DAY(o_orderdate) AS INTEGER) AS d,
           DATE_TRUNC('month', o_orderdate) AS month_start,
           CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
           CAST(CAST(o_orderdate AS DATE) - 7 AS VARCHAR) AS minus7,
           CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
           CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3mo,
           CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS unix_ts,
           STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS fmt,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS as_date
    FROM orders
    WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    dt = F.col("o_orderdate")
    d = dt.cast("date")
    return (
        o.select(
            "o_orderkey",
            F.year(dt).alias("y"),
            F.month(dt).alias("m"),
            F.dayofmonth(dt).alias("d"),
            F.date_trunc("month", dt).alias("month_start"),
            F.date_add(d, 30).cast("string").alias("plus30"),
            F.date_sub(d, 7).cast("string").alias("minus7"),
            F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
            F.add_months(d, 3).cast("string").alias("plus3mo"),
            F.last_day(d).cast("string").alias("eom"),
            F.unix_timestamp(dt).alias("unix_ts"),
            F.date_format(dt, "yyyy-MM-dd HH:mm:ss").alias("fmt"),
            d.cast("string").alias("as_date"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_array",
    oracle="""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents WHERE doc_id <= 40)
    SELECT doc_id,
           CAST(LEN(toks) AS INTEGER) AS n_toks,
           toks[1] AS first_tok,
           toks[3] AS third_tok,
           LIST_CONTAINS(toks, 'data') AS has_data,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(toks)), ',') AS uniq_sorted,
           ARRAY_TO_STRING(toks[2:4], ',') AS mid_slice,
           -- COALESCE: DuckDB ARRAY_TO_STRING([]) is NULL while Spark
           -- array_join([]) is '' — divergence surfaced by the r6 sf1
           -- audit on docs containing none of the probe tokens
           -- (unreachable in driver testdata, where every doc hits one)
           COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_INTERSECT(toks, ['data', 'table', 'row'])), ','), '') AS key_toks
    FROM t
    ORDER BY doc_id
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction/slicing/set-ops. Array results are emitted as
    comma-joined strings: the driver's hash canonicalizer cannot handle
    list cells, so both sides flatten identically (same values)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    return (
        t.select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            F.element_at("toks", 1).alias("first_tok"),
            F.element_at("toks", 3).alias("third_tok"),
            F.array_contains("toks", "data").alias("has_data"),
            F.array_join(F.sort_array(F.array_distinct("toks")), ",").alias("uniq_sorted"),
            F.array_join(F.slice("toks", 2, 3), ",").alias("mid_slice"),
            F.array_join(
                F.sort_array(
                    F.array_intersect(
                        "toks", F.array(F.lit("data"), F.lit("table"), F.lit("row"))
                    )
                ),
                ",",
            ).alias("key_toks"),
        )
        .orderBy("doc_id")
    )


@register(
    "fn_array_hof",
    oracle="""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents WHERE doc_id <= 40)
    SELECT doc_id,
           ARRAY_TO_STRING(LIST_TRANSFORM(toks, x -> UPPER(x)), ',') AS upper_toks,
           ARRAY_TO_STRING(LIST_FILTER(toks, x -> LENGTH(x) > 4), ',') AS long_toks,
           CAST(LIST_REDUCE(LIST_TRANSFORM(toks, x -> CAST(LENGTH(x) AS BIGINT)), (a, b) -> a + b) AS BIGINT) AS total_chars,
           ARRAY_TO_STRING(GENERATE_SERIES(1, 3), ',') AS seq3,
           ARRAY_TO_STRING(FLATTEN([toks[1:2], toks[3:4]]), ',') AS recombined
    FROM t
    ORDER BY doc_id
    """,
)
def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform/filter/aggregate/
    sequence/flatten), flattened to joined strings for driver-hash
    safety (list cells crash the driver canonicalizer)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 40)
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    return (
        t.select(
            "doc_id",
            F.array_join(F.transform("toks", lambda x: F.upper(x)), ",").alias(
                "upper_toks"
            ),
            F.array_join(
                F.filter("toks", lambda x: F.length(x) > 4), ","
            ).alias("long_toks"),
            F.aggregate(
                F.transform("toks", lambda x: F.length(x).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("total_chars"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(3)), lambda x: x.cast("string")
                ),
                ",",
            ).alias("seq3"),
            F.array_join(
                F.flatten(F.array(F.slice("toks", 1, 2), F.slice("toks", 3, 2))), ","
            ).alias("recombined"),
        )
        .orderBy("doc_id")
    )


@register(
    "fn_map",
    oracle="""
    SELECT n_nationkey,
           MAP(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)])['name'][1] AS name_v,
           MAP(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)])['region'][1] AS region_v,
           ARRAY_TO_STRING(LIST_SORT(MAP_KEYS(MAP(['name', 'region'], [n_name, CAST(n_regionkey AS VARCHAR)]))), ',') AS ks
    FROM nation
    ORDER BY n_nationkey
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction/lookup/keys; the key list is joined to a string
    for driver-hash safety."""
    n = load_table(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("name"), F.col("n_name"), F.lit("region"), F.col("n_regionkey").cast("string")
    )
    return (
        n.select(
            "n_nationkey",
            F.element_at(m, "name").alias("name_v"),
            F.element_at(m, "region").alias("region_v"),
            F.array_join(F.sort_array(F.map_keys(m)), ",").alias("ks"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_int
    FROM events
    WHERE user_id <= 20
    ORDER BY event_id
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").alias("k_str"),
            F.from_json("props", "k INT").getField("k").alias("k_int"),
        )
        .orderBy("event_id")
    )


@register(
    "fn_json_schema",
    oracle="""
    SELECT event_id,
           'STRUCT<k: BIGINT, tags: ARRAY<STRING>>' AS schema_ddl,
           to_json(struct_pack(k := CAST(json_extract(props, '$.k') AS INTEGER))) AS rejson,
           json_extract_string(props, '$.k') AS k_str
    FROM events
    WHERE user_id <= 20
    ORDER BY event_id
    """,
)
def fn_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema_of_json (the last SURVEY §2.B json-family gap) plus a
    parse→re-serialize round-trip. schema_of_json requires a foldable
    argument, so it infers from a canonical literal of the props shape
    (constant-folded by Catalyst — zero per-row cost); the oracle pins
    the expected DDL. json_tuple exercises the generator-style
    extractor; to_json proves serialization round-trips."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    return (
        ev.select(
            "event_id",
            F.schema_of_json(F.lit('{"k": 1, "tags": ["a", "b"]}')).alias(
                "schema_ddl"
            ),
            F.to_json(
                F.named_struct(
                    F.lit("k"), F.from_json("props", "k INT").getField("k")
                )
            ).alias("rejson"),
            F.json_tuple("props", "k").alias("k_str"),
        )
        .orderBy("event_id")
    )


@register(
    "fn_null_misc",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           CAST(c_acctbal < 0 AS BOOLEAN) AS negative,
           ISNAN(CASE WHEN c_acctbal < 0 THEN CAST('nan' AS DOUBLE) ELSE c_acctbal END) AS is_nan_flag,
           COALESCE(CAST(NULL AS VARCHAR), c_name) AS nvl_name
    FROM customer
    WHERE c_custkey <= 200
    ORDER BY c_custkey
    """,
)
def fn_null_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    return (
        c.select(
            "c_custkey",
            F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
                "seg_or_other"
            ),
            (F.col("c_acctbal") < 0).alias("negative"),
            F.isnan(
                F.when(F.col("c_acctbal") < 0, F.lit("nan").cast("double")).otherwise(
                    F.col("c_acctbal")
                )
            ).alias("is_nan_flag"),
            F.coalesce(F.lit(None).cast("string"), F.col("c_name")).alias("nvl_name"),
        )
        .orderBy("c_custkey")
    )


@register(
    "fn_string_distance",
    oracle="""
    SELECT p1.p_partkey AS key_a, p2.p_partkey AS key_b,
           levenshtein(p1.p_brand, p2.p_brand) AS lev_brand,
           CAST(p1.p_type = p2.p_type AS BOOLEAN) AS same_type
    FROM part p1 JOIN part p2 ON p1.p_partkey + 1 = p2.p_partkey
    WHERE p1.p_partkey <= 200
    ORDER BY key_a
    """,
)
def fn_string_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance over adjacent part rows — fuzzy-matching primitive
    (both engines implement classic Levenshtein)."""
    p = load_table(spark, sf_dir, "part")
    p1 = p.select(F.col("p_partkey").alias("key_a"), F.col("p_brand").alias("b1"),
                  F.col("p_type").alias("t1"))
    p2 = p.select(F.col("p_partkey").alias("key_b"), F.col("p_brand").alias("b2"),
                  F.col("p_type").alias("t2"))
    return (
        p1.join(p2, F.col("key_a") + 1 == F.col("key_b"))
        .filter(F.col("key_a") <= 200)
        .select(
            "key_a", "key_b",
            F.levenshtein("b1", "b2").alias("lev_brand"),
            (F.col("t1") == F.col("t2")).alias("same_type"),
        )
        .orderBy("key_a")
    )


@register(
    "fn_struct_nested",
    oracle="""
    SELECT o_orderkey,
           {'k': o_orderkey, 'status': o_orderstatus}.status      AS s_status,
           {'k': o_orderkey, 'status': o_orderstatus}.k + 1       AS s_next,
           CAST(LEN([o_orderkey, o_custkey]) AS INTEGER)          AS arr_n,
           [o_orderkey, o_custkey][1]                             AS first_key
    FROM orders
    WHERE o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
)
def fn_struct_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct pack/unpack + array-of-keys access — nested-type surface
    (the reference has no nested types at all; SURVEY §1.2)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    st = F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderstatus").alias("status"))
    arr = F.array("o_orderkey", "o_custkey")
    return (
        o.select(
            "o_orderkey",
            st.getField("status").alias("s_status"),
            (st.getField("k") + 1).alias("s_next"),
            F.size(arr).alias("arr_n"),
            F.element_at(arr, 1).alias("first_key"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "fn_try_ops",
    oracle="""
    SELECT p_partkey,
           TRY_CAST(p_brand AS INTEGER)                            AS brand_int,
           TRY_CAST(SUBSTR(p_brand, 7) AS INTEGER)                 AS brand_num,
           CASE WHEN p_size = 0 THEN NULL
                ELSE CAST(p_retailprice / p_size AS DOUBLE) END    AS price_per_size
    FROM part
    WHERE p_partkey <= 300
    ORDER BY p_partkey
    """,
)
def fn_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expressions: try_cast on non-numeric input → NULL
    instead of an ANSI runtime error, try_divide for zero divisors —
    the fail-soft contract a 100 TB batch job needs (one bad row must
    not kill a 10-hour pipeline)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return (
        p.select(
            "p_partkey",
            F.col("p_brand").try_cast("int").alias("brand_int"),
            F.substring("p_brand", 7, 10).try_cast("int").alias("brand_num"),
            F.try_divide(F.col("p_retailprice"), F.col("p_size")).cast("double").alias("price_per_size"),
        )
        .orderBy("p_partkey")
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_linenumber & 3                                 AS b_and,
           l_linenumber | 8                                 AS b_or,
           xor(l_linenumber, 5)                             AS b_xor,
           l_linenumber << 2                                AS b_shl,
           CAST(l_orderkey AS BIGINT) >> 3                  AS b_shr
    FROM lineitem
    WHERE l_orderkey <= 500
    ORDER BY l_orderkey, l_linenumber
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_linenumber").bitwiseAND(F.lit(3)).alias("b_and"),
            F.col("l_linenumber").bitwiseOR(F.lit(8)).alias("b_or"),
            F.col("l_linenumber").bitwiseXOR(F.lit(5)).alias("b_xor"),
            F.shiftleft(F.col("l_linenumber"), 2).alias("b_shl"),
            F.shiftright(F.col("l_orderkey"), 3).alias("b_shr"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "fn_map_hof",
    oracle="""
    SELECT n_nationkey,
           'n,r'                                                  AS ks,
           ARRAY_TO_STRING([n_nationkey * 2, n_regionkey * 2], ',') AS doubled,
           ARRAY_TO_STRING([n_nationkey + n_regionkey], ',')      AS zipped,
           CAST(LEN(list_filter([n_nationkey, n_regionkey],
                                x -> x >= 10)) AS INTEGER)        AS n_big
    FROM nation
    ORDER BY n_nationkey
    """,
)
def fn_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions — transform_values, map_zip_with,
    map_filter — checked through their sorted entry lists (DuckDB has
    list HOFs, not map HOFs, so the oracle works on the equivalent
    arrays; the semantics under test are Spark's map lambdas)."""
    n = load_table(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("n"), F.col("n_nationkey"), F.lit("r"), F.col("n_regionkey")
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    zipped = F.map_zip_with(
        F.create_map(F.lit("x"), F.col("n_nationkey")),
        F.create_map(F.lit("x"), F.col("n_regionkey")),
        lambda k, v1, v2: v1 + v2,
    )
    filtered = F.map_filter(m, lambda k, v: v >= 10)
    return (
        n.select(
            "n_nationkey",
            F.array_join(F.sort_array(F.map_keys(m)), ",").alias("ks"),
            F.array_join(
                F.transform(
                    F.array(F.element_at(doubled, "n"), F.element_at(doubled, "r")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doubled"),
            F.array_join(
                F.transform(F.map_values(zipped), lambda x: x.cast("string")), ","
            ).alias("zipped"),
            F.size(filtered).alias("n_big"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "fn_variant",
    oracle="""
    WITH j AS (
      SELECT event_id,
             '{"t": "' || event_type || '", "p": ' || props || '}' AS doc
      FROM events WHERE user_id <= 5
    )
    SELECT event_id,
           json_extract_string(doc, '$.t') AS t_str,
           CAST(json_extract(doc, '$.p.k') AS INTEGER) AS k_int,
           'OBJECT<p: OBJECT<k: BIGINT>, t: STRING>' AS var_schema
    FROM j
    ORDER BY event_id
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: semi-structured JSON parsed ONCE into the
    binary variant encoding, then typed path extraction
    (try_variant_get) and schema inference (schema_of_variant) — the
    modern replacement for repeated get_json_object string re-parsing.
    At 100 TB the difference is real: variant decodes the JSON one
    time per row into a shreddable binary form, where the legacy
    string functions re-tokenize the full document per extraction.
    The oracle mirrors the typed extractions with DuckDB's JSON ops
    and pins the inferred variant schema string."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 5)
    doc = F.concat(
        F.lit('{"t": "'), F.col("event_type"), F.lit('", "p": '), F.col("props"), F.lit("}")
    )
    v = F.parse_json(doc)
    return (
        ev.select(
            "event_id",
            F.try_variant_get(v, "$.t", "string").alias("t_str"),
            F.try_variant_get(v, "$.p.k", "int").alias("k_int"),
            F.schema_of_variant(v).alias("var_schema"),
        )
        .orderBy("event_id")
    )


@register(
    "fn_sql_udf",
    oracle="""
    WITH per_flag AS (
      SELECT l_returnflag AS flag,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
               AS revenue_units,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem
      GROUP BY flag
    )
    SELECT flag, revenue_units / 10000.0 AS revenue, qty, n
    FROM per_flag
    ORDER BY flag
    """,
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4.1 CREATE FUNCTION ... RETURN):
    a SCALAR SQL UDF (exact fixed-point discount price — the money
    convention packaged as a reusable catalog function, the way a
    team actually standardizes it) and a TABLE-VALUED SQL function
    (per-flag quantity/count over the lineitem view), composed via
    LATERAL correlation over the distinct flag set. Both are pure
    SQL bodies, so Catalyst INLINES them — the plan is identical to
    hand-written expressions (whole-stage codegen, pushdown intact),
    unlike a Python UDF; this is the zero-cost abstraction path for
    shared business logic. The oracle writes the bodies inline, so a
    hash match proves the inlining preserved semantics exactly."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("sqludf_lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION discount_units(p DOUBLE, d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(p * (1 - d) * 10000, 0) AS BIGINT)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION flag_stats(f STRING)
        RETURNS TABLE(qty BIGINT, n BIGINT)
        RETURN SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT),
                      COUNT(*)
               FROM sqludf_lineitem WHERE l_returnflag = f
        """
    )
    return spark.sql(
        """
        SELECT flags.flag,
               rev.revenue_units / CAST(10000 AS DOUBLE) AS revenue,
               t.qty, t.n
        FROM (SELECT DISTINCT l_returnflag AS flag FROM sqludf_lineitem) flags
        JOIN (SELECT l_returnflag AS flag,
                     SUM(discount_units(l_extendedprice, l_discount))
                       AS revenue_units
              FROM sqludf_lineitem GROUP BY flag) rev
          ON flags.flag = rev.flag,
        LATERAL flag_stats(flags.flag) t
        ORDER BY flags.flag
        """
    )


@register(
    "fn_collation_param",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           SUM(CAST(ROUND(c.c_acctbal * 10000) AS BIGINT)) / 10000.0 AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE lower(c.c_mktsegment) = 'building'
    GROUP BY nation
    ORDER BY nation
    """,
)
def fn_collation_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named :params server-side bound — no string
    splicing, the injection-safe client surface) combined with Spark
    4 COLLATION: the segment predicate compares under UTF8_LCASE, so
    the lowercase parameter matches the uppercase stored values by
    collation semantics rather than by wrapping lower() around the
    column — which matters at scale because a collated comparison
    remains a pushable predicate on the column while lower(col) = x
    is an expression filter that defeats min/max pruning on sorted
    data. The oracle mirrors with lower() (DuckDB lacks UTF8_LCASE);
    ASCII-only values make the two definitions coincide exactly."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("collation_cust")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("collation_nat")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               SUM(CAST(ROUND(c.c_acctbal * 10000, 0) AS BIGINT))
                 / CAST(10000 AS DOUBLE) AS total_bal
        FROM collation_cust c
        JOIN collation_nat n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_mktsegment COLLATE UTF8_LCASE = :seg
        GROUP BY nation
        ORDER BY nation
        """,
        args={"seg": "building"},
    )


@register(
    "fn_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) / 10000.0 AS total,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY status
    ORDER BY status
    """,
)
def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML encode/decode (Spark 4 to_xml/from_xml): each order row is
    serialized to an XML fragment and parsed back with an explicit
    schema, then the PARSED columns aggregate — the oracle aggregates
    the source directly, so a hash match proves the round-trip is
    lossless, including doubles (Java's Double.toString/parseDouble
    round-trip is exact by contract, then the money sum quantizes).
    This is the third leg of the semi-structured trio (JSON
    fn_json/fn_json_schema, VARIANT fn_variant, XML here) — the
    feed-ingest formats a warehouse engine must parse natively.
    Scale: both directions are codegen'd row-local expressions —
    zero shuffle beyond the final 3-key agg; schema is explicit, so
    no inference pass."""
    o = load_table(spark, sf_dir, "orders")
    xml = o.select(
        F.to_xml(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml(
            "x", "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
        ).alias("r")
    ).select("r.*")
    return (
        parsed.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("o_totalprice") * 10000, 0).cast("bigint"))
                / 10000.0
            ).alias("total"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("status")
    )


@register(
    "fn_month_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS VARCHAR) AS plus_1m,
           CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus_3m,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE) AS VARCHAR) AS quarter_start,
           CAST(date_diff('month', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS months_since_95
    FROM orders
    WHERE o_orderkey % 97 = 0
    ORDER BY o_orderkey
    """,
)
def fn_month_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar month arithmetic at the edges (the family that bites
    in revenue reporting): add_months clamps Jan 31 + 1m to Feb 28
    rather than overflowing into March — Spark's add_months and
    DuckDB's + INTERVAL 1 MONTH share the clamp rule, which this row
    PINS (an engine that overflows would hash-mismatch on every
    month-end order). Also last_day, quarter truncation, and whole-
    month difference — date_diff('month') counts month BOUNDARIES
    crossed, matching integer months-since arithmetic on both
    engines (Spark's fractional months_between is deliberately
    avoided: its 31-day-month fraction rule has no DuckDB
    equivalent). All codegen'd row-local date math; the modulo
    sample keeps the check set small without an orderBy-limit
    truncation bias."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.add_months(d, 1).cast("string").alias("plus_1m"),
        F.add_months(d, 3).cast("string").alias("plus_3m"),
        F.last_day(d).cast("string").alias("month_end"),
        F.date_trunc("quarter", F.col("o_orderdate"))
        .cast("date")
        .cast("string")
        .alias("quarter_start"),
        (
            (F.year(d) - F.lit(1995)) * 12 + (F.month(d) - F.lit(1))
        ).cast("int").alias("months_since_95"),
    ).orderBy("o_orderkey")


@register(
    "fn_aes_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT) AS content_checksum,
           TRUE AS all_roundtrip
    FROM documents
    WHERE doc_id < 200
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption round-trip (aes_encrypt/aes_decrypt,
    ECB for determinism — GCM's random IV would make ciphertext
    nondeterministic by design): every document encrypts, decrypts,
    and must hash back to the ORIGINAL bytes — the at-rest
    protection shape for a sensitive column, with the round-trip
    law (decrypt∘encrypt = id) oracle-checked via the portable
    content checksum over the DECRYPTED text plus an all-rows
    equality flag. Both AES passes are row-local codegen'd JVM
    crypto — zero shuffle, no Python; at 100 TB this is a map-only
    rewrite of the column. The oracle computes the checksum from the
    source directly: a single corrupted round-trip flips the
    checksum or the flag."""
    key = "fairy-demo-key16"  # 16-byte demo key (public test fixture)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    rt = d.select(
        "doc_id",
        "text",
        F.expr(
            f"cast(aes_decrypt(aes_encrypt(text, '{key}', 'ECB'), '{key}', 'ECB')"
            " as string)"
        ).alias("rt_text"),
    )
    from fairy_spark.operators.text import portable_hash64

    return rt.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(portable_hash64(F.col("rt_text")).cast("decimal(38,0)"))
            % 1000000000000000
        )
        .cast("bigint")
        .alias("content_checksum"),
        (F.count_if(F.col("rt_text") == F.col("text")) == F.count(F.lit(1))).alias(
            "all_roundtrip"
        ),
    )


@register(
    "fn_url_parse",
    oracle="""
    WITH u AS (
      SELECT c_custkey,
             'https://shop.example.com/' || lower(c_mktsegment) || '/' ||
               CAST(c_custkey AS VARCHAR) || '?ref=' || CAST(c_nationkey AS VARCHAR)
               || '&page=2' AS url
      FROM customer WHERE c_custkey <= 500
    )
    SELECT c_custkey,
           'shop.example.com' AS host,
           '/' || regexp_extract(url, 'https://[^/]+(/[^?]*)', 1)[2:] AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref_param
    FROM u
    ORDER BY c_custkey
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition via Spark's parse_url (HOST / PATH / QUERY /
    single-parameter extraction) over URLs constructed from customer
    attributes — the clickstream-normalization primitive. The oracle
    reconstructs each component from the SAME construction (regexp on
    the built string), so the check proves parse_url inverts the URL
    grammar rather than trusting one engine's parser. Pure per-row
    codegen expressions — zero shuffle beyond the final sort."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    url = F.concat(
        F.lit("https://shop.example.com/"),
        F.lower("c_mktsegment"),
        F.lit("/"),
        F.col("c_custkey").cast("string"),
        F.lit("?ref="),
        F.col("c_nationkey").cast("string"),
        F.lit("&page=2"),
    )
    u = c.select("c_custkey", url.alias("url"))
    return u.select(
        "c_custkey",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("url"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
    ).orderBy("c_custkey")


@register(
    "fn_timezone_dst",
    oracle="""
    SELECT CAST(o_orderdate AS VARCHAR) AS utc_ts,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(o_orderdate AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York'
                AS VARCHAR) AS ny_wall,
           CAST(o_orderdate AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Berlin'
                AS VARCHAR) AS berlin_wall,
           date_diff('hour',
                     o_orderdate AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
                     o_orderdate) AS ny_offset_hours
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-03-01' AND TIMESTAMP '1995-12-31'
    GROUP BY o_orderdate
    ORDER BY utc_ts
    """,
)
def fn_timezone_dst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DST-aware timezone conversion: order timestamps (UTC wall
    clock) converted to America/New_York and Europe/Berlin local wall
    time across a year that crosses BOTH DST transitions (offsets
    −5/−4 and +1/+2 flip at different dates) — the correctness trap
    every event-time pipeline hits. Spark's convert_timezone(src, tgt,
    ts) against DuckDB's AT TIME ZONE composition: two independent
    IANA tzdata consumers must agree on every boundary; the offset
    column makes a silent off-by-one-hour visible directly. Per-row
    codegen — no shuffle beyond the distinct-date agg in front."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-03-01")
        & (F.col("o_orderdate") <= "1995-12-31")
    )
    ny = F.convert_timezone(
        F.lit("UTC"), F.lit("America/New_York"), F.col("o_orderdate")
    )
    berlin = F.convert_timezone(
        F.lit("UTC"), F.lit("Europe/Berlin"), F.col("o_orderdate")
    )
    offset = (
        F.unix_timestamp(F.col("o_orderdate")) - F.unix_timestamp(ny)
    ) / 3600
    return (
        o.groupBy("o_orderdate")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("o_orderdate").cast("string").alias("utc_ts"),
            "n",
            ny.cast("string").alias("ny_wall"),
            berlin.cast("string").alias("berlin_wall"),
            offset.cast("bigint").alias("ny_offset_hours"),
        )
        .orderBy("utc_ts")
    )


@register(
    "fn_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_units,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 10
    ORDER BY l_returnflag, l_linestatus
    """,
)
def fn_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's |> operator chain, from Google's
    'SQL Has Problems' pipe-SQL proposal): the Q1 pricing shape
    written as a linear dataflow — FROM |> WHERE |> EXTEND (computed
    column) |> AGGREGATE ... GROUP BY |> WHERE (post-agg filter) |>
    ORDER BY — the syntax surface a reference user migrating
    imperative pipelines onto the engine would reach for first.
    Catalyst lowers each pipe stage to the same logical operators as
    classic SQL (the oracle is the classic form; a hash match proves
    the lowering is semantics-preserving), so pushdown, codegen, and
    partial aggregation are unchanged. Money stays in exact integer
    basis-point units per the repo-wide fixed-point convention."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql(
        """
        FROM pipe_lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> EXTEND CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                       AS BIGINT) AS rev_units
        |> AGGREGATE CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                     CAST(SUM(rev_units) AS BIGINT) AS revenue_units,
                     CAST(COUNT(*) AS BIGINT) AS n
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 10
        |> SELECT l_returnflag, l_linestatus, sum_qty, revenue_units, n
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "fn_sql_scripting",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type
    )
    SELECT CAST(COUNT(*) AS INTEGER) AS n_types,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list(c ORDER BY event_type)),
                (acc, x) -> acc * 31 + x) AS BIGINT) AS checksum,
           CAST(SUM(c) AS BIGINT) AS n_events
    FROM g
    """,
)
def fn_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.1's SQL/PSM BEGIN…END blocks): session
    VARIABLEs, a WHILE-style accumulator, and a FOR cursor loop that
    iterates a real query's result IN ITS ORDER BY ORDER — proven by
    folding the per-type counts through the order-SENSITIVE polynomial
    hash acc·31 + c, which only matches the oracle's ordered
    list_reduce if the cursor respected the ordering. This is the
    procedural control-flow surface (migration scripts, retry loops,
    admin automation) a warehouse user expects on top of the
    declarative engine; each statement inside the block still compiles
    through Catalyst, so the loop body's aggregates keep their
    distributed plans — the script only sequences driver-side control
    flow, it never pulls row-level data beyond the cursor's grouped
    result."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("script_events")
    return spark.sql(
        """
        BEGIN
          DECLARE checksum BIGINT DEFAULT 0;
          DECLARE n INT DEFAULT 0;
          DECLARE total BIGINT DEFAULT 0;
          FOR r AS SELECT event_type, COUNT(*) AS c
                   FROM script_events GROUP BY event_type
                   ORDER BY event_type DO
            SET checksum = checksum * 31 + r.c;
            SET n = n + 1;
            SET total = total + r.c;
          END FOR;
          SELECT n AS n_types, checksum, total AS n_events;
        END
        """
    )


@register(
    "fn_sql_variables",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_orderdate < DATE '1998-01-01'
      AND o_totalprice >= 1000.0
    GROUP BY o_orderpriority
    ORDER BY grp
    """,
)
def fn_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session variables + IDENTIFIER() dynamic-name resolution (Spark
    4): the cutoff date, the price floor, AND the grouping COLUMN all
    arrive as DECLAREd session variables — the safe parameterization
    surface that replaces string-splicing SQL (injection-proof by
    construction: IDENTIFIER() resolves a *name*, never an arbitrary
    expression). The oracle is the constant-folded static query, so a
    hash match proves variable binding and dynamic identifier
    resolution changed nothing semantically. Catalyst folds the
    variables at analysis time — the plan is identical to the literal
    form, predicates still push to the scan."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("var_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE grp_col STRING DEFAULT 'o_orderpriority'")
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff DATE DEFAULT DATE '1998-01-01'")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 1000.0")
    return spark.sql(
        """
        SELECT IDENTIFIER(grp_col) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM var_orders
        WHERE o_orderdate < cutoff AND o_totalprice >= price_floor
        GROUP BY IDENTIFIER(grp_col)
        ORDER BY grp
        """
    )


@register(
    "fn_observation_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(CASE WHEN o_totalprice > 100000 THEN 1 END) AS BIGINT)
             AS n_large,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders
    """,
)
def fn_observation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation / df.observe() (Spark's CollectMetrics hook — the
    data-quality instrumentation every production pipeline bolts onto
    its hot path): metrics ride the SAME job as the observed action
    (zero extra scan — unlike a separate .agg(), which re-reads the
    table), and the driver reads them from the Observation handle
    after the action completes. The returned frame is rebuilt from the
    observed values, so a hash match against the oracle's direct
    aggregation proves the in-flight metrics equal the ground truth —
    exactly the invariant a DQ gate relies on. At 100 TB this is the
    difference between monitoring-for-free and doubling the read."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("fn_obs_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).cast("bigint").alias(
            "n_large"
        ),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_cents"], m["n_large"], m["min_key"])],
        "n_rows BIGINT, total_cents BIGINT, n_large BIGINT, min_key BIGINT",
    )


@register(
    "fn_url_canonical",
    oracle="""
    WITH u AS (
      SELECT c_custkey,
             'HTTPS://Shop.Example.COM:443/' || lower(c_mktsegment)
             || '/item?utm_source=mail&ref=' || CAST(c_nationkey AS VARCHAR)
             || '&b=2&a=1&utm_campaign=x' AS url
      FROM customer WHERE c_custkey <= 500
    ), parts AS (
      SELECT c_custkey,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM u
    ), canon AS (
      SELECT c_custkey, host, path,
             array_to_string(
               list_sort(list_filter(string_split(query, '&'),
                                     p -> NOT p LIKE 'utm_%')),
               '&') AS canon_query
      FROM parts
    )
    SELECT c_custkey,
           'https://' || host || path
             || CASE WHEN canon_query = '' THEN ''
                     ELSE '?' || canon_query END AS canonical_url
    FROM canon ORDER BY c_custkey
    """,
)
def fn_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization every web-corpus dedup
    runs BEFORE hashing (CommonCrawl/WARC practice): lowercase the
    scheme+host, drop the default port, strip utm_* tracking
    parameters, and SORT the surviving query parameters so
    param-order variants collapse to one key. Built from per-row
    codegen primitives (regexp component extraction + array
    filter/sort HOFs — zero shuffle), with both engines computing the
    identical grammar, so the hash gate proves the canonical form is
    engine-independent — the property that matters when the dedup key
    for a 100-TB crawl is computed by whatever engine ingested each
    shard. Companion to fn_url_parse (decomposition) and
    dedup_exact_rows (the consumer of the canonical key)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    url = F.concat(
        F.lit("HTTPS://Shop.Example.COM:443/"),
        F.lower("c_mktsegment"),
        F.lit("/item?utm_source=mail&ref="),
        F.col("c_nationkey").cast("string"),
        F.lit("&b=2&a=1&utm_campaign=x"),
    )
    u = c.select("c_custkey", url.alias("url"))
    return (
        u.selectExpr(
            "c_custkey",
            "lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host",
            "regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1) AS path",
            "regexp_extract(url, '\\\\?([^#]*)', 1) AS query",
        )
        .selectExpr(
            "c_custkey",
            "host",
            "path",
            """array_join(
                 array_sort(filter(split(query, '&'),
                                   p -> NOT p LIKE 'utm_%')),
                 '&') AS canon_query""",
        )
        .selectExpr(
            "c_custkey",
            """concat('https://', host, path,
                      CASE WHEN canon_query = '' THEN ''
                           ELSE concat('?', canon_query) END)
               AS canonical_url""",
        )
        .orderBy("c_custkey")
    )


@register(
    "fn_bitwise_agg",
    oracle="""
    WITH t AS (
      SELECT event_type,
             user_id % 256 AS mask,
             event_id
      FROM events
    )
    SELECT event_type,
           CAST(bit_and(mask) AS BIGINT) AS and_mask,
           CAST(bit_or(mask) AS BIGINT) AS or_mask,
           CAST(bit_xor(mask) AS BIGINT) AS xor_mask,
           CAST(bit_xor(event_id) AS BIGINT) AS xor_ids,
           CAST(SUM(bit_count(CAST(mask AS BIGINT))) AS BIGINT) AS total_bits,
           CAST(MAX(mask * 4) AS BIGINT) AS max_shifted
    FROM t
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def fn_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate + scalar family: BIT_AND / BIT_OR / BIT_XOR
    grouped aggregates (all three are commutative-associative, so the
    distributed partial-agg merge is order-independent by algebra —
    no quantization discipline needed, unlike float sums), bit_count
    population counts, and shiftleft as the scalar leg. XOR over a
    key column doubles as the classic order-free set checksum
    (xor_ids — the same trick the KV checksum rows use additively).
    One hash agg, map-side combined; the 100 TB shape for permission
    masks, feature flags, and bitmap-index maintenance. DuckDB
    mirrors shiftleft as *4 (same value, no shift operator
    portability risk)."""
    e = load_table(spark, sf_dir, "events")
    t = e.select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(256)).alias("mask"),
        "event_id",
    )
    return (
        t.groupBy("event_type")
        .agg(
            F.bit_and("mask").cast("bigint").alias("and_mask"),
            F.bit_or("mask").cast("bigint").alias("or_mask"),
            F.bit_xor("mask").cast("bigint").alias("xor_mask"),
            F.bit_xor("event_id").cast("bigint").alias("xor_ids"),
            F.sum(F.bit_count(F.col("mask").cast("bigint"))).cast("bigint").alias("total_bits"),
            F.max(F.shiftleft(F.col("mask"), 2)).cast("bigint").alias("max_shifted"),
        )
        .orderBy("event_type")
    )
