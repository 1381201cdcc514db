"""Triangle / wedge counting over ARBITRARY edge lists.

Extracted from the registered queries (fairy_spark/queries/graph.py
`graph_triangles` / `graph_triangles_capped`) so the same algorithms
run on any caller-supplied undirected pair set — the registered rows
hardwire the TPC-H co-purchase extraction, but a user's graph (or the
hub-cap benchmark's power-law fixture, SCALE.md r9) is just a
DataFrame of (u, v) pairs.

Algorithm: Schank & Wagner 2005 degree-ordered orientation — each
undirected edge points from its (degree, id)-smaller endpoint, so the
graph becomes a DAG where every triangle appears exactly once as
e1(a,b), e2(b,c), e3(a,c), and out-degree is capped at O(sqrt(m)).
The capped variant splits wedge enumeration by the middle node's
wedge product indeg*outdeg (see triangle_summary_capped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from fairy_spark.operators.pool import park_persisted

DEFAULT_HUB_CAP = 4096


# Edge frames that feed several join inputs are cut with an eager
# ``localCheckpoint``: one evaluation feeds every branch. Checkpoint,
# not persist: the leaf has NO size statistics, so Catalyst keeps the
# shuffle joins instead of broadcasting the edge list into every wedge
# join (persist's small-at-sf0.1 statistics measured 10 s -> 24.5 s on
# graph_triangles_capped, a plan that also dies at scale).


def _park_degrees(df: DataFrame) -> DataFrame:
    """Park a NODE-sized frame (degrees, hub lists) in persist-mode:
    unlike the corpus-shaped edge frames above, these keep accurate
    size statistics so Catalyst's broadcast-vs-shuffle decision stays
    data-driven — checkpointing a degree frame demoted its joins
    BHJ → SMJ and measurably regressed graph_clustering_coeff (r14);
    at 100 TB the statistics exceed the broadcast threshold and the
    planner degrades gracefully to the shuffle join on its own."""

    return park_persisted(df)


def orient_edges(pairs: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """(u, v) undirected distinct pairs -> (src, dst) degree-oriented
    DAG edges (src is the (degree, id)-smaller endpoint). Pass a
    pre-materialized ``deg`` to share one degree shuffle across du/dv
    and the caller's own degree consumers (r14)."""
    if deg is None:
        deg = node_degrees(pairs)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )


def node_degrees(pairs: DataFrame) -> DataFrame:
    """(node, d) undirected degree per node of the pair set."""
    return (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _summary_plain(deg: DataFrame, oriented: DataFrame) -> DataFrame:
    """(n_nodes, n_edges, n_triangles) from a pre-oriented (and
    typically persisted) edge frame — the plain path join."""
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    summary = (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(oriented.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return summary.select("n_nodes", "n_edges", "n_triangles")


def triangle_summary(pairs: DataFrame) -> DataFrame:
    """(n_nodes, n_edges, n_triangles) — the plain oriented path join;
    wedge cost Sum over middles of indeg*outdeg <= O(m^1.5)."""
    # r14: the caller's pair extraction (e.g. the lineitem co-purchase
    # self-join + distinct) fed FIVE plan branches unpersisted — the
    # two degree unions inside orient_edges' du/dv, the pairs probe
    # itself, and the summary's node count — so it re-executed ~5x per
    # query (guide §2.4: remove repeated work outright). One boundary
    # here makes every downstream branch read the store.
    pairs = pairs.localCheckpoint(eager=True)
    deg = _park_degrees(node_degrees(pairs))
    oriented = orient_edges(pairs, deg).localCheckpoint(eager=True)
    return _summary_plain(deg, oriented)


def triangle_summary_capped(pairs: DataFrame, cap: int = DEFAULT_HUB_CAP) -> DataFrame:
    """(n_nodes, n_edges, n_hubs, n_tri_low, n_tri_hub, n_triangles) —
    EXACT hub-capped triangle count. Wedge middles with
    indeg*outdeg > cap are routed to a residual pass that pivots the
    enumeration to fan out from the SOURCE's orientation-capped
    out-degree (hub-in edges x source out-edges, closing edge verified
    by a hash join); per hub the enumerated rows drop from
    indeg(b)*outdeg(b) to Sum over a in N_in(b) of outdeg(a). Every
    triangle has exactly one middle, routed to exactly one pass, so
    the two counts sum to the exact total (role-swapped candidates
    fail the closing-edge check because the orientation is a DAG)."""
    pairs = pairs.localCheckpoint(eager=True)  # r14: see triangle_summary
    deg = _park_degrees(node_degrees(pairs))
    oriented = orient_edges(pairs, deg).localCheckpoint(eager=True)
    return _summary_capped(deg, oriented, cap)


def _summary_capped(deg: DataFrame, oriented: DataFrame, cap: int) -> DataFrame:
    outd = oriented.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = oriented.groupBy("dst").agg(F.count(F.lit(1)).alias("id_"))
    # r14: hubs feeds the anti/semi routing AND the n_hubs count —
    # parked persist-mode so the wedge-product rollup runs once and
    # the O(√m)-bounded list keeps statistics for the join decision.
    hubs = _park_degrees(
        deg.join(outd.withColumnRenamed("src", "node"), "node", "left")
        .join(ind.withColumnRenamed("dst", "node"), "node", "left")
        .filter(
            F.coalesce(F.col("od"), F.lit(0)) * F.coalesce(F.col("id_"), F.lit(0))
            > cap
        )
        .select("node")
    )
    # low pass: path join keyed on non-hub middles
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e1_low = e1.join(hubs.withColumnRenamed("node", "b"), "b", "left_anti")
    e1_hub = e1.join(hubs.withColumnRenamed("node", "b"), "b", "left_semi")
    e2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri_low = e1_low.join(e2, "b").join(e3, ["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_tri_low")
    )
    # hub residual: fan out from the source's orientation-capped
    # out-degree, then verify the hub->c closing edge
    cand = e1_hub.join(e3, "a")  # (a, b hub, c) from a's out-wedge
    tri_hub = cand.join(e2, ["b", "c"]).agg(F.count(F.lit(1)).alias("n_tri_hub"))
    summary = (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(oriented.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(hubs.agg(F.count(F.lit(1)).alias("n_hubs"))))
        .crossJoin(F.broadcast(tri_low))
        .crossJoin(F.broadcast(tri_hub))
    )
    return summary.select(
        "n_nodes",
        "n_edges",
        "n_hubs",
        "n_tri_low",
        "n_tri_hub",
        (F.col("n_tri_low") + F.col("n_tri_hub")).alias("n_triangles"),
    )


# Measured crossover of the hub-cap lever (SCALE.md r9, hubcap_bench.py):
# on the power-law fixture the capped form wins 1.71x at 5e8 wedge rows
# and the walls cross at ~1e8; below that the residual pass's extra
# joins cost 1.3-1.6x for nothing (the TPC-H co-purchase graph at every
# SF). The selector compares the EXACT plain-join row count against
# this threshold.
DEFAULT_WEDGE_AUTO_THRESHOLD = 100_000_000


def wedge_row_count(oriented: DataFrame) -> DataFrame:
    """1-row (n_wedges) — Sum over middle nodes of indeg*outdeg: the
    exact number of rows the plain path join e1(a,b)⋈e2(b,c) would
    enumerate. Two edge-sized aggs + a node-sized join — O(m), cheap
    relative to either enumeration it arbitrates between."""
    outd = oriented.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = oriented.groupBy("dst").agg(F.count(F.lit(1)).alias("id_"))
    return ind.join(outd, ind["dst"] == outd["src"]).agg(
        F.coalesce(F.sum(F.col("id_") * F.col("od")), F.lit(0))
        .cast("long")
        .alias("n_wedges")
    )


def triangle_summary_auto(
    pairs: DataFrame,
    cap: int = DEFAULT_HUB_CAP,
    wedge_threshold: int = DEFAULT_WEDGE_AUTO_THRESHOLD,
) -> DataFrame:
    """(n_nodes, n_edges, n_wedges, plan, n_triangles) — DATA-DRIVEN
    selection between the plain path join and the hub-capped split
    (VERDICT r9 #2): orient once, count the exact wedge rows the plain
    join would enumerate (one O(m) agg of the persisted oriented
    frame), and run the capped form only when that count exceeds the
    measured ~1e8 crossover. The 1-row collect is the bounded
    driver-side decision (k-means-seed discipline); both counts are
    exact, so the choice changes the PLAN, never the triangle total —
    the registered `graph_triangles_auto` oracle mirrors the wedge
    count, the threshold case, and the count itself."""
    pairs = pairs.localCheckpoint(eager=True)  # r14: see triangle_summary
    deg = _park_degrees(node_degrees(pairs))
    oriented = orient_edges(pairs, deg).localCheckpoint(eager=True)
    n_wedges = int(wedge_row_count(oriented).collect()[0]["n_wedges"])
    plan = "capped" if n_wedges > wedge_threshold else "plain"
    if plan == "capped":
        s = _summary_capped(deg, oriented, cap)
    else:
        s = _summary_plain(deg, oriented)
    return s.select(
        "n_nodes",
        "n_edges",
        F.lit(n_wedges).cast("long").alias("n_wedges"),
        F.lit(plan).alias("plan"),
        "n_triangles",
    )
