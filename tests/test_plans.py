"""Physical-plan quality gates (the 100 TB contract).

Correct results with the wrong plan don't survive a 100× scale-up:
these tests pin the plan properties that matter — predicate pushdown
into the parquet scan, column pruning, broadcast joins on dims,
whole-stage codegen on hot paths, and no cartesian products where an
equi-join is expected (SURVEY.md §4; brief: '.explain the plan and
iterate until it's the plan you'd want')."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import Window, functions as F

from fairy_spark.queries import QUERIES
from fairy_spark.sources.tables import load_table


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def codegen_subtrees(spark, build_df) -> int:
    """Number of whole-stage-codegen spans in the plan. AQE hides
    codegen wrapping until execution, so re-plan with AQE off (the
    static plan is what AQE's stages compile to anyway)."""
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(build_df(), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
    m = [l for l in plan.splitlines() if "WholeStageCodegen subtrees" in l]
    return int(m[0].split()[1]) if m else 0


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan, plan


def test_multi_get_in_filter_pushed_to_scan(spark, sf_dir):
    """kv_multi_get's design point: the batched key probe must reach
    the parquet scan as ONE pushed In filter (row-group stats serve
    the whole batch); probing a cast-derived key column would keep the
    filter post-scan and silently forfeit the pruning."""
    plan = plan_of(QUERIES["kv_multi_get"](spark, str(sf_dir)))
    assert "PushedFilters: [In(doc_id" in plan, plan


def test_column_pruning_in_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    # ReadSchema must contain only the projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_q1_is_partial_agg_plan(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = plan_of(df)
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters" in plan
    assert codegen_subtrees(spark, lambda: QUERIES["q1_pricing_summary"](spark, sf_dir)) >= 1


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["join_3way_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    plan2 = plan_of(QUERIES["join_broadcast_dims"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan2
    assert "SortMergeJoin" not in plan2  # dims-only query must never shuffle-join


def test_semi_anti_join_types(spark, sf_dir):
    assert "LeftSemi" in plan_of(QUERIES["join_semi"](spark, sf_dir))
    assert "LeftAnti" in plan_of(QUERIES["join_anti"](spark, sf_dir))


def test_range_join_not_cartesian(spark, sf_dir):
    # equi key anchors the join: must not degenerate to nested-loop/cartesian
    plan = plan_of(QUERIES["join_range"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["sort_global_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort


def test_minhash_band_join_is_equi(spark, sf_dir):
    plan = plan_of(QUERIES["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_pair_join_keyed_by_block_and_band(spark, sf_dir):
    """VERDICT r3 item 2: the candidate-pair join must be keyed by
    (block, band), never an all-pairs join over an unbounded block —
    in-block pairs grow quadratically with corpus size otherwise. Since
    r15 the band self-join carries no explicit repartition (the planner
    inserts/AQE-sizes the exchange, or broadcasts a provably small band
    frame), so the checkable signature of the bounded plan is the join
    node's own key list: every block and band column must appear in the
    equi-join keys."""
    plan = plan_of(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keyed = [
        line
        for line in plan.splitlines()
        if line.startswith("Left keys") and "band_hash" in line
    ]
    assert keyed, plan
    for key in ("source", "len_bucket", "band_id"):
        assert any(key in line for line in keyed), (key, keyed)


def test_kv_point_lookup_prunes_buckets(spark, assert_one_bucket_read):
    """A2/A4 contract: a point get on the bucketed store must read one
    bucket's files, not scan the table — on the direct read and on the
    Spark lookup alike. The latest-wins aggregate over the whole store
    still plans on the bucket layout, with no shuffle."""
    from fairy_spark.kv import KVStore

    kv = KVStore(spark, name="plan_probe", num_buckets=8)
    kv.drop()
    kv.put_batch([(f"k{i}", bytes([i])) for i in range(32)])
    kv.put_batch([(f"k{i}", bytes([i + 1])) for i in range(0, 32, 3)])
    assert_one_bucket_read(kv, "k3")
    plan = plan_of(kv._latest())
    assert "Exchange" not in plan and "Bucketed: true" in plan, plan
    kv.drop()


def test_scalar_pipeline_is_codegen(spark, sf_dir):
    assert codegen_subtrees(spark, lambda: QUERIES["fn_math"](spark, sf_dir)) >= 1
    assert "BatchEvalPython" not in plan_of(QUERIES["fn_math"](spark, sf_dir))


def test_subqueries_decorrelate_to_joins(spark, sf_dir):
    """Correlated subqueries must be rewritten to joins — a per-row
    inner query (nested loop over the fact table) would be O(n·m) at
    100 TB."""
    for name, want in [
        ("sub_in_segment", "LeftSemi"),
        ("sub_exists_bigspender", "LeftSemi"),
        ("sub_not_exists_no_urgent", "LeftAnti"),
    ]:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert want in plan, f"{name}: expected {want}\n{plan}"
        assert "CartesianProduct" not in plan, name
    # scalar + lateral: any join strategy is fine, never a cartesian
    for name in ["sub_scalar_agg", "sub_correlated_scalar", "sub_lateral_topk"]:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_parquet_sink_readback_partition_prunes(spark, sf_dir, tmp_path):
    """sink_parquet_partitioned's read-back predicate is a partition
    filter: the scan must list only the matching directory."""
    QUERIES["sink_parquet_partitioned"](spark, sf_dir).collect()  # materialize sink
    import fairy_spark.queries.sources_io as io_mod

    back = spark.read.parquet(io_mod._scratch(spark, sf_dir, "lineitem_parquet")).filter(
        F.col("l_returnflag") == "A"
    )
    plan = plan_of(back)
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan.replace("#", " #"), plan


def test_bucketed_colocated_join_no_shuffle(spark, sf_dir):
    """THE 100 TB join story: two tables bucketed+sorted on the join
    key join with ZERO exchanges — at scale this turns every daily
    fact-fact join from a full shuffle into a local merge. (Reference
    analog: both stores sharded by the same key hash, A4.)"""
    from fairy_spark.sources.tables import load_table

    for t in ("bk_orders", "bk_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    (load_table(spark, sf_dir, "orders")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bk_orders"))
    (load_table(spark, sf_dir, "lineitem")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("bk_lineitem"))
    # Disable broadcast so the planner must use the bucket layout (at
    # the SF under test the small side would otherwise broadcast, which
    # proves nothing about co-location).
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("bk_orders")
            .join(spark.table("bk_lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    join_section = plan.split("HashAggregate")[0]
    assert "Exchange" not in join_section, plan  # co-located: no shuffle before/within the join
    assert "SortMergeJoin" in plan, plan
    # sanity: result matches the plain (shuffled) join
    plain = (
        load_table(spark, sf_dir, "orders")
        .join(load_table(spark, sf_dir, "lineitem"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    for t in ("bk_orders", "bk_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_salted_join_no_cartesian_and_spread(spark, sf_dir):
    plan = plan_of(QUERIES["join_salted_skew"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_dims_broadcast_q18_preagg(spark, sf_dir):
    """q5: supplier/nation/region must broadcast (3 BroadcastHashJoins);
    q18: the lineitem aggregation must sit BELOW the orders join —
    aggregate-then-join is the rewrite that keeps the shuffled keyset
    tiny at 100 TB."""
    plan5 = plan_of(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert plan5.count("BroadcastHashJoin") >= 3, plan5
    plan18 = plan_of(QUERIES["q18_large_volume_customer"](spark, sf_dir))
    # the first (deepest) HashAggregate over lineitem appears before any join
    agg_pos = plan18.find("HashAggregate")
    join_pos = max(plan18.find("SortMergeJoin"), plan18.find("BroadcastHashJoin"),
                   plan18.find("ShuffledHashJoin"))
    assert agg_pos != -1 and join_pos != -1
    assert "CartesianProduct" not in plan18


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    """A total order at scale must sample + range-partition (parallel
    sort), never single-partition sort."""
    plan = plan_of(QUERIES["sort_multikey_nulls"](spark, sf_dir))
    assert "rangepartitioning" in plan.lower(), plan


def test_salting_flattens_skewed_shuffle(spark):
    """Synthetic power-law key (one key = half the rows): after
    hash-partitioning on the bare key the hot partition holds ~half the
    table; on (key, salt) no partition exceeds ~2/n_salt of it."""
    from pyspark.sql import Row

    n = 20_000
    rows = [Row(k="hot" if i % 2 == 0 else f"k{i % 97}", v=i) for i in range(n)]
    df = spark.createDataFrame(rows)

    def max_partition_rows(d, *cols):
        sizes = (
            d.repartition(16, *[F.col(c) for c in cols])
            .withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid").count().agg(F.max("count")).first()[0]
        )
        return sizes

    hot = max_partition_rows(df, "k")
    salted = max_partition_rows(
        df.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(8))),
        "k", "_salt",
    )
    assert hot >= n / 2  # skew really lands on one task
    # the 8 hot (key, salt) combos can still hash-collide across 16
    # partitions, so assert a substantial spread, not a perfect one
    assert salted <= 0.7 * hot, (hot, salted)


def test_ivf_assignments_partition_prune(spark, sf_dir, tmp_path):
    """SCALE.md contract: the IVF assignments table written
    partitionBy(cluster) serves probes with partition pruning."""
    from fairy_spark.operators.similarity import ivf_index
    from fairy_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(500)
    assignments, _cent = ivf_index(emb, n_clusters=4)
    path = str(tmp_path / "ivf_assignments")
    assignments.write.mode("overwrite").partitionBy("cluster").parquet(path)
    probe = spark.read.parquet(path).filter(F.col("cluster") == 1)
    plan = plan_of(probe)
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters")[1][:120], plan


def test_q6_pushes_all_predicates(spark, sf_dir):
    """Q6 is pure scan-filter-agg: every predicate must reach the
    parquet reader — at 100 TB the scan IS the query."""
    plan = plan_of(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for frag in ["l_shipdate", "l_discount", "LessThan(l_quantity"]:
        assert frag in pushed, (frag, pushed)


def test_q14_broadcasts_part_q4_plans_semi(spark, sf_dir):
    """Q14's part side must broadcast (a shuffle there re-partitions the
    whole fact for a dim join); Q4's EXISTS must stay a left-semi join —
    an inner join would duplicate orders per matching lineitem and
    corrupt the counts as well as widen the shuffle."""
    plan14 = plan_of(QUERIES["q14_promo_revenue"](spark, str(sf_dir)))
    assert "BroadcastHashJoin" in plan14 or "BroadcastExchange" in plan14, plan14
    plan4 = plan_of(QUERIES["q4_order_priority"](spark, str(sf_dir)))
    assert "LeftSemi" in plan4, plan4
    # orders scan reads only what the query needs
    read_schemas = [l for l in plan4.splitlines() if "ReadSchema" in l]
    orders_rs = [l for l in read_schemas if "o_orderpriority" in l]
    assert orders_rs and "o_totalprice" not in orders_rs[0], read_schemas


def _executed_nodes(spark, build_df):
    """Yield nodes of the POST-EnsureRequirements physical plan.

    ``sparkPlan()`` is the plan *before* EnsureRequirements inserts
    exchanges, so partitioning checks against it are vacuous (the
    round-2 verdict proved the old gate could never fire). Build AND
    inspect with AQE off: under AQE, ``executedPlan()`` is an
    AdaptiveSparkPlan whose subtree isn't final until execution."""
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        stack = [build_df()._jdf.queryExecution().executedPlan()]
        while stack:
            n = stack.pop()
            yield n
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)


def _single_partition_windows(spark, build_df) -> list[str]:
    """Window/Sort nodes whose input is a single partition — i.e. the
    whole input funnels through ONE task. Window's outputPartitioning
    delegates to its child, so checking the node itself sees through
    the Sort that EnsureRequirements inserts above the exchange."""
    hits = []
    for n in _executed_nodes(spark, build_df):
        if n.nodeName() in ("Window", "WindowGroupLimit"):
            if "SinglePartition" in n.outputPartitioning().toString():
                hits.append(n.nodeName())
    return hits


def test_gate_canary_flags_global_window(spark, sf_dir):
    """The gate MUST fire on a deliberately global window — otherwise
    the registry-wide test below proves nothing (the round-2 defect:
    a pre-EnsureRequirements check that could never flag anything)."""
    s = load_table(spark, str(sf_dir), "supplier")

    def bad():
        w = Window.orderBy("s_suppkey")
        return s.select("s_suppkey", F.row_number().over(w).alias("rn"))

    assert _single_partition_windows(spark, bad), (
        "canary not flagged: the SinglePartition gate is blind again"
    )


def test_no_single_partition_window_in_any_query(spark, sf_dir):
    """Registry-wide scale gate: no query may plan a Window over a
    SinglePartition exchange — that funnels the whole input through ONE
    task (the round-1 text_pack_bins defect, the round-2 win_cume_pct
    defect; fatal at 100 TB). Running sums over the full corpus must
    use the two-pass sharded prefix sum (operators/packing.py) and
    global ranks the sharded rank (operators/ranking.py); driver-side
    numbering of k-row frames (operators/similarity.py seeds) replaces
    global row_number."""
    offenders = []
    for name, fn in QUERIES.items():
        if _single_partition_windows(spark, lambda f=fn: f(spark, str(sf_dir))):
            offenders.append(name)
    assert not offenders, offenders


def test_shuffle_hash_join_strategy_pinned(spark, sf_dir):
    """join_shuffle_hash must plan a ShuffledHashJoin — neither a
    broadcast (would hide the hash path at test SF) nor an SMJ (would
    mean the hint regressed and both sides pay a sort)."""
    plan = plan_of(QUERIES["join_shuffle_hash"](spark, str(sf_dir)))
    assert "ShuffledHashJoin" in plan, plan


def test_substring_dedup_pair_join_never_broadcasts(spark, sf_dir):
    """dedup_substring_exact's pair self-join is over a corpus-sized,
    explode-derived gram table whose size the planner undershoots —
    left to AQE it broadcasts one whole side (observed), a plan that
    caps at driver memory long before 100 TB. The shuffle-hash pin
    must hold: ShuffledHashJoin, and no broadcast anywhere."""
    plan = plan_of(QUERIES["dedup_substring_exact"](spark, str(sf_dir)))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan, plan


# Queries allowed to plan a BroadcastNestedLoopJoin, each with the
# DECLARED maximum row count of its broadcast (build) side — a design
# bound, not a measured fit. test_no_cartesian_product_in_any_query
# EXECUTES every build-side subtree and asserts the actual row count
# stays under the declared bound (VERDICT r7 #7: a structural check
# instead of 38 trust-me comments), so an allowlisted query whose
# broadcast side silently becomes corpus-shaped fails the gate the
# moment it regresses.
BNLJ_BOUNDED: dict[str, int] = {
    # 1-row global-stat crossJoins (count/avgdl/min-max/threshold frames)
    "text_tfidf": 1, "text_bm25": 1, "ml_minmax_scale": 1,
    "text_inverted_index": 1, "text_quality_logprob": 1,
    "text_dsir_weights": 1, "sample_domain_balance": 1,
    "graph_pagerank": 1, "sketch_hll": 1, "q22_idle_customers": 1,
    "q11_important_share": 1, "ml_assoc_rules": 1, "sink_zorder_layout": 1,
    "events_rfm_segmentation": 1, "text_bigram_lm": 1,
    "sink_zorder_skip_stats": 1,   # 1-row key-max normalization frame

    "events_power_curve": 1, "stats_chi_square": 1, "stats_ks_two_sample": 1,
    "graph_triangles": 1, "graph_triangles_capped": 1,
    "graph_triangles_auto": 1,  # same 1-row stat crossJoins, plan picked by wedge count
    "graph_kcore": 1, "sketch_kmv_setops": 1,
    "graph_hits": 1, "ml_decision_stump": 1, "ml_adaboost_stumps": 1,
    "ml_mutual_information": 1,
    # small fixed grids / probe frames (k rows by construction)
    "sketch_quantile_hist": 4,     # 3-target rank probe + 1-row stats
    "ml_ann_ivf_exact": 4,         # n_clusters=4 centroid broadcast
    "join_theta_cross": 8,         # capped theta inputs
    "ml_ndcg_at_k": 8,             # 8-row query-vector broadcast
    "geo_cell_knn": 9,             # 3x3 cell-offset frame
    "geo_radius_join": 9,          # same 3x3 offset frame + 1-row cell/r scalar
    "stats_benford_digits": 9,     # 9-digit expected grid
    "sim_cosine_topk": 16,         # bounded query-vector probe set
    "ml_ann_lsh_recall": 16,       # same bounded probe set, BF twin side
    "ml_ann_ivf_recall": 16,       # 8-query integer-MIPS BF broadcast
    "sample_domain_balance_scale": 1,  # 1-row cap scalar cross join
    "events_window_funnel": 1,     # 1-row step-1 baseline scalar cross join
    "events_window_funnel_strict": 1,  # same 1-row baseline scalar cross join
    "ml_ann_ivf_topk": 16,         # centroid frame + bounded probe set
    "ml_ann_ivf_append": 16,       # same base-built centroid frame broadcast
    "ml_ann_ivf_delete": 16,       # stale base-built centroid frame (mask branch)
    "ml_ann_ivf_compact": 16,      # live-retrained centroid frame (compact branch)
    "ml_ann_ivf_persisted": 16,    # reloaded k-row centroid table broadcast
    "ml_ann_ivf_persisted_append": 16,  # same reloaded centroid broadcast
    "dedup_lines_incremental": 1,  # 1-row 80th-percentile-id split scalar
    "dedup_lines_near_incremental": 1,  # same 1-row split scalar
    "dedup_semantic_semdedup": 16,  # n_clusters=16 centroid broadcast
    "ml_knn_vote": 40,             # bounded eval-query broadcast
    "ml_naive_bayes": 64,          # |classes| x 32-bucket model grid
    "ml_confusion_matrix": 128,    # 100-row eval-query broadcast
    "dedup_eval_minhash": 512,     # 500-doc bounded ground-truth frame
    "events_dau_wau": 1000,        # calendar-day grid (~365 rows/yr)
}


def _bnlj_build_side_rows(spark, df, cap: int) -> list[int]:
    """Actual row count of every BroadcastNestedLoopJoin build side in
    df's post-EnsureRequirements plan (AQE off — the caller's session
    state), by EXECUTING the build subtree with executeTake(cap). A
    corpus-shaped side returns cap, tripping any sane bound."""

    def unwrap(n):
        while True:
            nm = n.nodeName()
            if nm == "InputAdapter" or nm.startswith("WholeStageCodegen"):
                n = n.children().apply(0)
            elif nm == "ReusedExchange":
                n = n.child()
            elif "BroadcastExchange" in nm:
                n = n.children().apply(0)
            else:
                return n

    counts = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        if n.nodeName() == "BroadcastNestedLoopJoin":
            side = 1 if "BuildRight" in n.buildSide().toString() else 0
            counts.append(len(unwrap(n.children().apply(side)).executeTake(cap)))
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    return counts


def test_no_cartesian_product_in_any_query(spark, sf_dir):
    """Registry-wide scale gate: no query may plan a CartesianProduct —
    a nested loop over two NON-broadcast sides is corpus-quadratic work
    on corpus-sized inputs, fatal at 100 TB. BroadcastNestedLoopJoin is
    tolerated only for the BNLJ_BOUNDED allowlist, and each allowlisted
    query's build sides are EXECUTED and counted against the declared
    bound — so neither a new unbounded nested loop nor a regression of
    an allowlisted broadcast side to corpus shape can land silently."""
    cartesian, rogue_bnlj, overflow = [], [], []
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, fn in QUERIES.items():
            df = fn(spark, str(sf_dir))
            plan = plan_of(df, "simple")
            if "CartesianProduct" in plan:
                cartesian.append(name)
            if "BroadcastNestedLoopJoin" in plan:
                if name not in BNLJ_BOUNDED:
                    rogue_bnlj.append(name)
                else:
                    bound = BNLJ_BOUNDED[name]
                    rows = _bnlj_build_side_rows(spark, df, bound + 1)
                    if any(r > bound for r in rows):
                        overflow.append((name, bound, rows))
    finally:
        # restore the PRE-test value, not a hardcoded "true" (ADVICE r8)
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
    assert not cartesian, f"CartesianProduct planned by: {cartesian}"
    assert not rogue_bnlj, (
        f"unreviewed BroadcastNestedLoopJoin in: {rogue_bnlj} — verify the "
        "broadcast side is bounded, then declare its bound in BNLJ_BOUNDED"
    )
    assert not overflow, (
        f"BNLJ build side exceeded its declared bound: {overflow} — the "
        "broadcast side is growing with the corpus; fix the plan, don't "
        "raise the bound without a design reason"
    )


def test_gopher_and_split_are_shuffle_free_narrow_maps(spark, sf_dir):
    """text_gopher_filters and sample_train_split are per-row rule
    packs: every signal comes from one tokenize of one scan, so the
    only exchange allowed is the presentation orderBy's range
    partitioning. A hashpartitioning exchange here would mean a stray
    groupBy/join snuck into what must stay a narrow map at 100 TB."""
    for name in ("text_gopher_filters", "sample_train_split"):
        plan = plan_of(QUERIES[name](spark, str(sf_dir)), "simple")
        assert "hashpartitioning" not in plan, (name, plan)
        assert "SinglePartition" not in plan, (name, plan)
        read = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert read and "n_chars" not in read[0], (name, read)


def test_domain_balance_windows_per_source_cap_broadcast(spark, sf_dir):
    """sample_domain_balance's only corpus-sized shuffles key on
    `source` (the per-source window + the count agg); the 1-row cap
    frame must ride a broadcast, never a shuffle join."""
    import re

    plan = plan_of(QUERIES["sample_domain_balance"](spark, str(sf_dir)), "simple")
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) == {"source"}, keys
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_dsir_scores_off_cached_vocab_via_broadcast(spark, sf_dir):
    """text_dsir_weights must (a) join the per-token ratio table onto
    the corpus token stream as a BROADCAST hash join (the vocab side is
    df-bounded, the stream corpus-sized — a shuffle join would move the
    corpus), and (b) derive both the totals row and the ratios from the
    persisted vocab agg (InMemoryTableScan), not re-scan the corpus
    per branch — the cache-drop regression re-planned every branch back
    to a FileScan until the unpersist-before-persist fix."""
    plan = plan_of(QUERIES["text_dsir_weights"](spark, str(sf_dir)), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan
    body = plan.split("InMemoryTableScan")[0]
    assert body.count("FileScan parquet") == 1, body


def test_sessionize_single_user_exchange(spark, sf_dir):
    """events_sessionize claims ONE exchange end-to-end: both windows
    and the session agg share the user_id partitioning. Any second
    hash key (or a SinglePartition window) would break per-user
    locality at 100 TB."""
    import re

    plan = plan_of(QUERIES["events_sessionize"](spark, str(sf_dir)), "simple")
    keys = set(re.findall(r"hashpartitioning\((\w+)#", plan))
    assert keys == {"user_id"}, keys
    assert "SinglePartition" not in plan.replace(
        "rangepartitioning", ""
    ), plan  # presentation sort may range-partition; nothing may single-partition


def test_bpe_pairs_is_takeordered_topk(spark, sf_dir):
    """text_bpe_pairs' top-30 must plan as TakeOrderedAndProject
    (per-partition heaps over the pair counts), never a global sort
    of the full pair vocabulary."""
    plan = plan_of(QUERIES["text_bpe_pairs"](spark, str(sf_dir)), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_q9_part_filter_reaches_scan(spark, sf_dir):
    """q9_product_profit's p_name LIKE filter must be pushed to the
    part scan (shrinking the SF-proportional dim BEFORE the partkey
    exchange) — at 100 TB an unpushed LIKE re-reads all of part."""
    plan = plan_of(QUERIES["q9_product_profit"](spark, str(sf_dir)), "formatted")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "p_name" in l]
    assert pushed and "Contains(p_name,red)" in pushed[0].replace(" ", ""), pushed


def test_asof_forward_single_shuffle_no_join(spark, sf_dir):
    """join_asof_forward is the union+window encoding: exactly one
    user_id exchange, and NO join node anywhere — a range/candidate
    join encoding would explode when many right rows follow a left
    row."""
    import re

    plan = plan_of(QUERIES["join_asof_forward"](spark, str(sf_dir)), "simple")
    assert "Join" not in plan, plan
    keys = set(re.findall(r"hashpartitioning\((\w+)#", plan))
    assert keys == {"user_id"}, keys


def test_dynamic_partition_pruning_fires_on_partitioned_sink(spark, sf_dir):
    """THE other 100 TB scan-reduction mechanism next to static
    partition pruning: joining the partitioned sink table against a
    FILTERED dim on the partition column must inject a
    dynamicpruning expression into the scan's PartitionFilters — at
    scale this is what keeps a fact⋈dim join from reading every
    date/flag directory when the dim filter only selects a few. If a
    config or layout change ever silenced DPP, this gate catches it
    before a cluster pays the full scan."""
    import fairy_spark.queries.sources_io as io_mod

    QUERIES["sink_parquet_partitioned"](spark, str(sf_dir)).collect()
    fact = spark.read.parquet(
        io_mod._scratch(spark, str(sf_dir), "lineitem_parquet")
    )
    dim = spark.createDataFrame(
        [("A", 1), ("N", 2), ("R", 3)], "flag string, w int"
    ).filter(F.col("w") == 1)
    j = (
        fact.join(dim.hint("broadcast"), fact.l_returnflag == dim.flag)
        .groupBy("flag")
        .count()
    )
    plan = plan_of(j)
    assert "dynamicpruning" in plan.lower(), plan


def test_prebanded_index_probe_prunes_partitions(spark, tmp_path):
    """VERDICT r12 #5 gate: the pre-banded durable fingerprint store
    (stream_exec_dhash_bucketed's index) is partitioned by (band_id,
    bv_bucket), and a batch probe's touched-bucket predicate must land
    in the scan's PartitionFilters — directory pruning, never a
    post-scan data filter — so per-batch index cost is the touched
    partitions' occupancy, not the store size."""
    from pyspark.sql import functions as F

    from fairy_spark.operators.dedup import band_fingerprints

    sig = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 40)) for i in range(1, 65)],
        "media_id LONG, dhash LONG",
    )
    banded = band_fingerprints(
        sig, bits=40, n_bands=4, id_col="media_id", hash_col="dhash"
    ).withColumn("bv_bucket", F.pmod(F.col("band_val"), F.lit(16)))
    root = str(tmp_path / "dhb_idx")
    banded.write.partitionBy("band_id", "bv_bucket").mode("overwrite").parquet(root)
    bid, bkt = [
        (r["band_id"], r["bv_bucket"])
        for r in banded.select("band_id", "bv_bucket").distinct().orderBy(
            "band_id", "bv_bucket"
        ).collect()
    ][0]
    pred = (F.col("band_id") == F.lit(bid)) & (F.col("bv_bucket") == F.lit(bkt))
    pruned = spark.read.parquet(root).filter(pred)
    plan = plan_of(pruned)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and "band_id" in scan[0] and "bv_bucket" in scan[0], plan
    # the predicate must NOT degrade to a post-scan data filter (a
    # partition-only predicate may omit the PushedFilters line wholly)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert not pushed or "band_id" not in pushed[0], plan
    # EXECUTION-real pruning: the scan's own numPartitions metric
    # (selected partition dirs) must collapse to the one touched
    # bucket, while the unfiltered store reads every dir.
    def scan_partitions_read(df) -> int:
        df.collect()
        vals, stack = [], [df._jdf.queryExecution().executedPlan()]
        while stack:
            n = stack.pop()
            if n.nodeName() == "AdaptiveSparkPlan":
                stack.append(n.executedPlan())
            if n.nodeName().startswith("Scan parquet"):
                it = n.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numPartitions":
                        vals.append(kv._2().value())
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        assert len(vals) == 1, vals
        return vals[0]

    n_all = scan_partitions_read(spark.read.parquet(root))
    n_pruned = scan_partitions_read(pruned)
    assert n_pruned == 1 < n_all, (n_pruned, n_all)
    # and the pruned scan still returns exactly the bucket's rows
    expect = banded.filter(pred).count()
    assert pruned.count() == expect > 0
