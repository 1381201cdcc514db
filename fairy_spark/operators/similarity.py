"""Vector similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k for a bounded query set — broadcast
the queries, scan the corpus once, per-group top-k. That plan is
already the right one at 100 TB when |queries| is small: no crossJoin
of the corpus with itself, one scan, one shuffle for the per-query
top-k window.

Scale path: LSH-bucketed ANN (random-hyperplane signatures derived
from seeded portable hashes, so signatures are deterministic) —
candidates only within matching signature buckets.

Cosine is computed with an explicit left-fold in DOUBLE so DuckDB can
reproduce the exact same floating-point operation order (bit-identical
results → stable oracle hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from fairy_spark.operators.skew import spread_width
from fairy_spark.operators.text import portable_hash64
from fairy_spark.operators.pool import park_persisted


# Lloyd centroid builds: INTERMEDIATE rounds are evicted with a
# build-LOCAL prev handle inside _persist_centroids (safe within one
# build: the new round's count() fully materializes before the previous
# frame is dropped). Only each build's FINAL frame outlives its build;
# it joins the shared persisted-frame FIFO (operators/pool.py), so
# repeated ivf_index/ivf_mips_topk calls don't accumulate cached k×dim
# frames until the context cleaner collects them (ADVICE r11), and a
# new build never drops an earlier build's still-lazy frame unless the
# FIFO overflows (ADVICE r12) — which costs that build's Lloyd rerun,
# never a wrong answer.


def _persist_centroids(df: DataFrame, prev: DataFrame | None = None) -> DataFrame:
    """Materialize a Lloyd-round centroid frame and evict the CALLER'S
    previous round (build-local — never another build's frame).
    Truncates lineage each round; without it every iteration
    re-derives all prior assign+mean rounds from scratch."""
    df = df.persist()
    df.count()
    if prev is not None:
        prev.unpersist(blocking=False)
    return df


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    da, db = _dvec(a), _dvec(b)
    return dot(da, db) / (norm(da) * norm(db))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (self-matches
    excluded). queries must be small — it is broadcast."""
    # Norms are precomputed per ROW, not per pair: each corpus vector
    # meets |queries| pairs (and vice versa), and norm() is an O(dims)
    # fold — hoisting it out of the join divides the HOF work per pair
    # by 3 (dot only). Numerically identical to computing inside the
    # pair: same fold over the same values, same division operands, so
    # the DuckDB oracle still matches bit-for-bit.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _dvec(F.col(vec_col)).alias("qvec"),
        norm(_dvec(F.col(vec_col))).alias("qnorm"),
    )
    # Spread the corpus scan when it arrives as fewer splits than the
    # scoring work (|corpus|×|queries| interpreted HOF folds) wants —
    # scale-adaptive width from the input-size estimate (r15; the
    # former repartition(defaultParallelism) constant cost ~0.3 s of
    # 32-task overhead at sf0.1 and a useless full reshuffle at scale).
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _dvec(F.col(vec_col)).alias("nvec"),
        norm(_dvec(F.col(vec_col))).alias("nnorm"),
    )
    width = spread_width(c)
    if width:
        c = c.repartition(width)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("qvec"), F.col("nvec"))
                / (F.col("qnorm") * F.col("nnorm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


def plane_weights(p: int, dims: int = 64) -> list[float]:
    """Plane p's weight vector: w_d = (md5-hash('hp{p}:{d}') % 2001 - 1000)/1000
    in [-1, 1) — deterministic, no RNG state (SURVEY.md §7.5). Computed
    driver-side with hashlib (identical values to the in-plan
    portable_hash64 formula) so the weights embed as LITERALS: the
    naive in-plan form re-hashed planes×dims md5s per ROW."""
    import hashlib

    return [
        (int(hashlib.md5(f"hp{p}:{d}".encode()).hexdigest()[:15], 16) % 2001 - 1000)
        / 1000.0
        for d in range(dims)
    ]


def hyperplane_signature(vec: Column, planes: int = 8, dims: int = 64) -> Column:
    """Deterministic random-hyperplane LSH signature (one bit per plane):
    bit p = sign of <vec, w_p>. Projections are explicit left folds in
    double, so the DuckDB oracle reproduces the exact same bits."""
    dv = _dvec(vec)
    bits = []
    for p in range(planes):
        w = F.array(*[F.lit(x) for x in plane_weights(p, dims)])
        proj = F.aggregate(
            F.zip_with(dv, w, lambda x, wd: x * wd),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def hyperplane_signature_sql(planes: int = 8, dims: int = 64, vec: str = "embedding") -> str:
    """DuckDB expression computing the identical signature (same
    literal weights, same left-fold order)."""
    terms = []
    for p in range(planes):
        w = "[" + ", ".join(repr(x) for x in plane_weights(p, dims)) + "]"
        proj = (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {dims}),"
            f" i -> CAST({vec}[i] AS DOUBLE) * ({w})[i])), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket.
    Recall < 1 by design; tests assert recall vs brute force. The
    bucket join replaces the full scan with |bucket| work per query —
    the 100 TB path, where buckets are also the partitioning key."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        hyperplane_signature(F.col(vec_col), planes, dims).alias("bucket"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        hyperplane_signature(F.col(vec_col), planes, dims).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("nvec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


def _nearest_centroid(vec_df: DataFrame, cent: DataFrame, vec_expr: str, n_probe: int = 1) -> DataFrame:
    """Attach the n_probe nearest centroid ids (L2) to each row of
    vec_df. Centroids are broadcast (k rows); the argmin is a ranking
    window per vector — no shuffle of the vector table itself."""
    d2 = F.aggregate(
        F.zip_with(F.col(vec_expr), F.col("_cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # First column is the row's unique id — partitioning the argmin
    # window by it (not the vector payload) keeps the sort key small.
    w = Window.partitionBy(vec_df.columns[0]).orderBy(F.asc("_d2"), F.asc("_cid"))
    return (
        vec_df.join(F.broadcast(cent), F.lit(True))
        .withColumn("_d2", d2)
        .withColumn("_cr", F.row_number().over(w))
        .filter(F.col("_cr") <= n_probe)
        .drop("_cvec", "_d2", "_cr")
    )


def ivf_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic k-means over the corpus,
    entirely in DataFrame ops (no RNG, no MLlib state).

    * init: the n_clusters vectors with the smallest md5(id) — a
      deterministic pseudo-random sample (same trick as hash-mod
      sampling).
    * lloyd_iters rounds of assign→mean; the mean is computed by
      posexploding dimensions and re-collecting — one shuffle per
      iteration keyed on (cluster, dim), fully parallel in both the
      corpus size and the dimensionality.
    * returns (assignments, centroids): assignments = corpus rows +
      `cluster`; centroids = (cluster ids, centroid vector).

    At 100 TB the assignments table is written partitioned BY cluster,
    so a probe reads only n_probe/n_clusters of the data — the IVF
    analog of the reference's hash-dir placement
    (local_file_kv_store.rs:62-70).
    """
    from fairy_spark.operators.text import portable_hash64

    corpus = embeddings.select(
        F.col(id_col).alias("_id"), _dvec(F.col(vec_col)).alias("_v")
    )
    # Seed selection is a global top-k (TakeOrderedAndProject), and the
    # k seed rows are numbered on the driver: k = n_clusters rows is
    # index metadata, not data — numbering them with a row_number window
    # would plan a SinglePartition exchange (banned by test_plans.py).
    seed_rows = (
        corpus.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_clusters)
        .collect()
    )
    cent = embeddings.sparkSession.createDataFrame(
        [(i, list(r["_v"])) for i, r in enumerate(seed_rows)],
        "_cid INT, _cvec ARRAY<DOUBLE>",
    )
    prev = None
    for _ in range(lloyd_iters):
        assigned = _nearest_centroid(corpus, cent, "_v", n_probe=1)
        cent = (
            assigned.select("_cid", F.posexplode("_v").alias("_dim", "_x"))
            .groupBy("_cid", "_dim")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_dim", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cvec")
            )
        )
        # The centroid frame is k×dim (index metadata); persist it,
        # evicting THIS build's previous round — without
        # materialization each iteration re-derives every previous
        # assign+mean from scratch (quadratic recompute once
        # lloyd_iters grows).
        cent = _persist_centroids(cent, prev)
        prev = cent
    if prev is not None:
        park_persisted(prev)
    assignments = _nearest_centroid(corpus, cent, "_v", n_probe=1).select(
        F.col("_id").alias(id_col), F.col("_v").alias(vec_col), F.col("_cid").alias("cluster")
    )
    return assignments, cent


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: score only vectors in the query's n_probe nearest
    clusters. Work per query = n_probe/n_clusters of the corpus instead
    of all of it; recall grows with n_probe (exact at n_probe =
    n_clusters). Same scoring arithmetic as brute_force_topk, so any
    returned pair carries the identical cosine."""
    assignments, cent = ivf_index(embeddings, n_clusters, 1, id_col, vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), _dvec(F.col(vec_col)).alias("qv"))
    q_probed = _nearest_centroid(q, cent, "qv", n_probe=n_probe).select(
        "query_id", "qv", norm(F.col("qv")).alias("qnorm"), F.col("_cid").alias("cluster")
    )
    c = assignments.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        norm(F.col(vec_col)).alias("nnorm"),
        "cluster",
    )
    scored = (
        c.join(F.broadcast(q_probed), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", "rn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def jl_matrix(k_out: int = 16, dims: int = 64) -> list[list[int]]:
    """Achlioptas sparse ternary Johnson-Lindenstrauss matrix (public:
    Achlioptas, PODS 2001): r_jd ∈ {+1, −1, 0} with probabilities
    {1/6, 1/6, 2/3}, derived from md5('jl{j}:{d}') % 6 — deterministic,
    no RNG state (SURVEY.md §7.5), computed driver-side so the matrix
    embeds as LITERALS in the plan (the plane_weights discipline)."""
    import hashlib

    def entry(j: int, d: int) -> int:
        h = int(hashlib.md5(f"jl{j}:{d}".encode()).hexdigest()[:15], 16) % 6
        return 1 if h == 0 else (-1 if h == 1 else 0)

    return [[entry(j, d) for d in range(dims)] for j in range(k_out)]


def jl_project(vec: Column, k_out: int = 16, dims: int = 64, scale: int = 1024) -> Column:
    """Project a float vector to k_out integer components: p_j =
    Σ_d floor(v_d·scale)·r_jd over the ternary JL matrix — EXACT
    bigint arithmetic end-to-end (quantize once per value, ±1/0
    weights), so the projection is bit-identical in any engine and
    hash-checkable, unlike a float Gaussian projection. Per-row HOFs,
    zero shuffle; the 2/3-sparse matrix means ~dims/3 adds per output
    component. The 100 TB use: an 8-byte×k_out sketch of each
    embedding cheap enough to sort/join/band on before any exact
    distance work."""
    if k_out < 1 or dims < 1:
        raise ValueError(f"jl_project needs k_out >= 1 and dims >= 1, got {k_out}/{dims}")
    # NB: dims must equal the vector length — on a mismatch zip_with
    # null-pads the shorter side, the x*wd products go NULL, and the
    # fold propagates NULL through the whole sum (NOT zero), so every
    # projection component and downstream checksum would be silently
    # NULL. Guarded at runtime: a wrong dims raises per-row instead.
    q = quantized_vec(vec, scale)
    rows = jl_matrix(k_out, dims)
    comps = []
    for r in rows:
        w = F.array(*[F.lit(x).cast("bigint") for x in r])
        comps.append(
            F.aggregate(
                F.zip_with(q, w, lambda x, wd: x * wd),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
        )
    # NULL vectors pass through as NULL projections (the pre-guard
    # behavior): size(NULL) is NULL, so without the explicit isNull
    # branch the when-condition would fall to raise_error with a
    # partially-NULL message (ADVICE r11). Only a present vector of
    # the wrong length raises.
    return (
        F.when(vec.isNull(), F.lit(None).cast("array<bigint>"))
        .when(F.size(vec) == F.lit(dims), F.array(*comps))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"jl_project: dims={dims} != vector length "),
                    F.size(vec).cast("string"),
                )
            )
        )
    )


def jl_project_sql(k_out: int = 16, dims: int = 64, scale: int = 1024, vec: str = "embedding") -> str:
    """DuckDB list expression mirroring jl_project (same literals,
    same left-fold order)."""
    parts = []
    for r in jl_matrix(k_out, dims):
        w = "[" + ", ".join(str(x) for x in r) + "]"
        parts.append(
            f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(generate_series(1, {dims}),"
            f" i -> CAST(floor(CAST({vec}[i] AS DOUBLE) * {scale}) AS BIGINT)"
            f" * ({w})[i])), (a, b) -> a + b)"
        )
    return "[" + ", ".join(parts) + "]"


def quantized_vec(vec: Column, scale: int = 1024) -> Column:
    """Integer-quantized copy of a float vector: q_d = floor(v_d * scale)
    with scale a power of two, so float→double widening, the multiply,
    and the floor are all EXACT — the same bigint in any engine. This
    is what makes an IVF pipeline hash-checkable end-to-end: every
    distance, dot product, and comparison downstream is integer
    arithmetic with no summation-order sensitivity."""
    assert scale & (scale - 1) == 0, "scale must be a power of two"
    return F.transform(vec, lambda x: F.floor(x.cast("double") * scale).cast("bigint"))


def int_l2sq(a: Column, b: Column) -> Column:
    """Exact integer squared L2 distance between two bigint vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def ivf_exact_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_clusters: int = 4,
    n_probe: int = 2,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF twin of ivf_topk (VERDICT r6 #3 — the
    ml_ann_lsh_exact16 recipe applied to IVF): the SAME pipeline
    structure — seed selection, cluster assignment, n_probe pruning,
    in-cluster scoring, per-query ranking — in exact integer
    arithmetic over a bounded corpus, so a SQL oracle reproduces every
    byte. Seeds are the n_clusters vectors with the smallest
    (md5(id), id) — ivf_index's deterministic pseudo-random init —
    and vectors assign to their nearest seed by integer L2 (tie →
    smaller cluster id). Scoring is the integer dot product (MIPS
    ranking): cosine's division is the one non-oracle-able float op,
    and inner-product search is itself a standard ANN mode. What this
    hash-checks: the bucket/probe machinery and ranking; what stays
    with the property tests: Lloyd's float mean update and recall
    (inherently approximate)."""
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), quantized_vec(F.col(vec_col), scale).alias("_q")
    )
    seed_rows = (
        corpus.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_clusters)
        .collect()
    )
    cent = embeddings.sparkSession.createDataFrame(
        [(i, list(r["_q"])) for i, r in enumerate(seed_rows)],
        "_cid INT, _cvec ARRAY<BIGINT>",
    )

    def nearest(df: DataFrame, vec: str, n: int) -> DataFrame:
        w = Window.partitionBy(df.columns[0]).orderBy(F.asc("_d2"), F.asc("_cid"))
        return (
            df.join(F.broadcast(cent), F.lit(True))
            .withColumn("_d2", int_l2sq(F.col(vec), F.col("_cvec")))
            .withColumn("_cr", F.row_number().over(w))
            .filter(F.col("_cr") <= n)
            .drop("_cvec", "_d2", "_cr")
        )

    assigned = nearest(corpus, "_q", 1).select(
        F.col("_id").alias("neighbor_id"), F.col("_q").alias("_nq"), F.col("_cid").alias("cluster")
    )
    q = corpus.filter(F.col("_id") < 8).select(
        F.col("_id").alias("query_id"), F.col("_q").alias("_qq")
    )
    probed = nearest(q, "_qq", n_probe).select(
        "query_id", "_qq", F.col("_cid").alias("cluster")
    )
    dot_i = F.aggregate(
        F.zip_with(F.col("_qq"), F.col("_nq"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        assigned.join(F.broadcast(probed), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", dot_i)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dot", "rn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def ivf_mips_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k with the ENTIRE pipeline — Lloyd update
    included — in exact integer arithmetic, so a SQL oracle reproduces
    every byte (VERDICT r10 #4: the one step ivf_topk could not
    oracle-check was the float mean update, whose IEEE summation order
    differs across engines; here the centroid update is an exact
    bigint SUM — order-independent — followed by a truncating integer
    division, `DIV` in Spark and `//` in DuckDB, both round-to-zero).
    Structure is ivf_topk's: deterministic (md5(id), id) seed init,
    nearest-centroid assignment by integer L2 (ties → smaller cid),
    ``lloyd_iters`` assign→integer-mean rounds, n_probe probe pruning,
    in-cluster integer-dot (MIPS) scoring, per-query top-k with id
    tie-break. Clusters emptied by a Lloyd round drop out of the
    centroid frame on both engines identically.

    100 TB shape: the Lloyd shuffle is keyed (cluster, dim) — parallel
    in corpus size AND dimensionality; centroids are k·dim index
    metadata, persisted per round to truncate lineage (ivf_index's
    discipline) and broadcast everywhere they're read. Quantized |q| ≤
    scale keeps every d², sum and dot far inside bigint at any corpus
    size that fits a cluster (bounds in the oracle's docstring)."""
    corpus = _mips_quantize(embeddings, id_col, vec_col, scale)
    cent = _mips_centroids(corpus, n_clusters, lloyd_iters)
    return _mips_score(corpus, queries, cent, k, n_probe, scale, id_col, vec_col)


def _mips_quantize(df: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("_id"), quantized_vec(F.col(vec_col), scale).alias("_q")
    )


def _mips_nearest(df: DataFrame, vec: str, n: int, cent: DataFrame) -> DataFrame:
    """n nearest centroids per row by exact integer L2 (ties → smaller
    cid); cent is k×dim index metadata, always broadcast."""
    w = Window.partitionBy(df.columns[0]).orderBy(F.asc("_d2"), F.asc("_cid"))
    return (
        df.join(F.broadcast(cent), F.lit(True))
        .withColumn("_d2", int_l2sq(F.col(vec), F.col("_cvec")))
        .withColumn("_cr", F.row_number().over(w))
        .filter(F.col("_cr") <= n)
        .drop("_cvec", "_d2", "_cr")
    )


def _mips_centroids(corpus: DataFrame, n_clusters: int, lloyd_iters: int) -> DataFrame:
    """Exact-integer coarse quantizer over a (_id, _q) corpus:
    deterministic (md5(id), id) seed init (bounded n_clusters-row
    collect), then ``lloyd_iters`` assign → bigint-SUM `DIV` count
    rounds. The Lloyd shuffle is keyed (cluster, dim) — parallel in
    corpus size AND dimensionality."""
    seed_rows = (
        corpus.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_clusters)
        .collect()
    )
    cent = corpus.sparkSession.createDataFrame(
        [(i, list(r["_q"])) for i, r in enumerate(seed_rows)],
        "_cid INT, _cvec ARRAY<BIGINT>",
    )
    prev = None
    for _ in range(lloyd_iters):
        assigned = _mips_nearest(corpus, "_q", 1, cent)
        cent = (
            assigned.select("_cid", F.posexplode("_q").alias("_dim", "_x"))
            .groupBy("_cid", "_dim")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .withColumn("_m", F.expr("_s DIV _n"))
            .groupBy("_cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_dim", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cvec")
            )
        )
        # Persist each Lloyd round, evicting THIS build's previous one
        # (ADVICE r11: frames must not accumulate until GC; ADVICE r12:
        # eviction is build-local so a new build can't drop a lazy
        # earlier build's frame — finals go to the shared FIFO below).
        cent = _persist_centroids(cent, prev)
        prev = cent
    if prev is not None:
        park_persisted(prev)
    return cent


def _mips_score(
    corpus: DataFrame,
    queries: DataFrame,
    cent: DataFrame,
    k: int,
    n_probe: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign a (_id, _q) corpus to fixed centroids, probe n_probe
    clusters per query, score in-cluster by exact integer dot, top-k
    per query with id tie-break."""
    assigned = _mips_nearest(corpus, "_q", 1, cent).select(
        F.col("_id").alias("neighbor_id"),
        F.col("_q").alias("_nq"),
        F.col("_cid").alias("cluster"),
    )
    return _mips_score_assigned(
        assigned, queries, cent, k, n_probe, scale, id_col, vec_col
    )


def _mips_score_assigned(
    assigned: DataFrame,
    queries: DataFrame,
    cent: DataFrame,
    k: int,
    n_probe: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """_mips_score's probe/score/top-k tail over an ALREADY-ASSIGNED
    (neighbor_id, _nq, cluster) corpus — factored (r13) so the
    persisted-index path scores a RELOADED assignment table instead of
    recomputing assignments from vectors."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantized_vec(F.col(vec_col), scale).alias("_qq")
    )
    probed = _mips_nearest(q, "_qq", n_probe, cent).select(
        "query_id", "_qq", F.col("_cid").alias("cluster")
    )
    dot_i = F.aggregate(
        F.zip_with(F.col("_qq"), F.col("_nq"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        assigned.join(F.broadcast(probed), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", dot_i)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dot", "rn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def ivf_mips_append(
    base: DataFrame,
    delta: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental IVF append (VERDICT r11 #4; the coarse-quantizer
    analog of dedup_minhash_incremental): the quantizer — seed init +
    Lloyd rounds — is built from the BASE corpus only, and the delta
    batch is assigned to those EXISTING integer centroids with no
    re-clustering, so ingesting a batch costs O(|delta|·k·dim) plus
    the unchanged probe/score path over base ∪ delta. Exact invariant
    (pinned in tests): with an empty delta this equals ivf_mips_topk
    on the base at the same geometry, because centroid build, probe
    and scoring are the same code (_mips_centroids/_mips_score).

    100 TB shape: a production embedding store is ingested
    incrementally; re-running Lloyd over the full corpus per batch is
    the anti-pattern. Here each append touches only the delta for
    assignment (centroids are broadcast k×dim metadata), and the
    integer algebra keeps every byte SQL-oracle-reproducible —
    quantizer drift is a re-index decision, not a side effect."""
    base_corpus = _mips_quantize(base, id_col, vec_col, scale)
    delta_corpus = _mips_quantize(delta, id_col, vec_col, scale)
    cent = _mips_centroids(base_corpus, n_clusters, lloyd_iters)
    full = base_corpus.unionByName(delta_corpus)
    return _mips_score(full, queries, cent, k, n_probe, scale, id_col, vec_col)


def ivf_mips_persist_and_search(
    embeddings: DataFrame,
    queries: DataFrame,
    index_dir: str,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DURABLE IVF index round-trip (r13 — the kv_persist_restart
    contract applied to the ANN ledger): build the exact-integer
    quantizer once, WRITE the index — assignments (id, quantized
    vector, cluster) partitioned BY CLUSTER, plus the k×dim centroid
    table — then RELOAD both and answer top-k entirely from the
    stored index: queries probe the reloaded centroids, their
    n_probe cluster ids (bounded ≤ |q|·n_probe collect) become a
    partition-pruning isin() on the assignments scan, and scoring
    runs over only the probed clusters' partitions. Search from the
    reloaded index is value-identical to ivf_mips_topk (same
    quantize/seed/Lloyd/probe/score algebra — the scoring tail is the
    shared _mips_score_assigned), which is what the registered
    oracle re-proves each run.

    100 TB shape: an embedding index is built once and served many
    times — the cluster-partitioned layout makes each query batch
    read n_probe/n_clusters of the stored index (directory pruning,
    the IVF promise made durable) instead of rescanning vectors, and
    the centroid table is k×dim metadata."""
    _persist_ivf_index(embeddings, index_dir, n_clusters, lloyd_iters, scale, id_col, vec_col)
    return _search_persisted_ivf(
        embeddings.sparkSession, index_dir, queries, k, n_probe, scale, id_col, vec_col
    )


def _persist_ivf_index(
    embeddings: DataFrame,
    index_dir: str,
    n_clusters: int,
    lloyd_iters: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> None:
    """Build the exact-integer quantizer and WRITE the durable index:
    cluster-partitioned assignments + the k×dim centroid table."""
    import os

    corpus = _mips_quantize(embeddings, id_col, vec_col, scale)
    cent = _mips_centroids(corpus, n_clusters, lloyd_iters)
    assigned = _mips_nearest(corpus, "_q", 1, cent).select(
        F.col("_id").alias("id"), F.col("_q").alias("q"), F.col("_cid").alias("cluster")
    )
    assigned.write.partitionBy("cluster").mode("overwrite").parquet(
        os.path.join(index_dir, "assignments")
    )
    cent.select(F.col("_cid").alias("cid"), F.col("_cvec").alias("cvec")).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "centroids"))


def _load_ivf_centroids(sess, index_dir: str) -> DataFrame:
    import os

    return sess.read.parquet(os.path.join(index_dir, "centroids")).select(
        F.col("cid").alias("_cid"), F.col("cvec").alias("_cvec")
    )


def _search_persisted_ivf(
    sess,
    index_dir: str,
    queries: DataFrame,
    k: int,
    n_probe: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Answer top-k entirely from the stored index: probe the reloaded
    centroids, partition-prune the assignments scan to the probed
    clusters (bounded ≤ |q|·n_probe collect), score with the shared
    _mips_score_assigned tail."""
    import os

    cent_loaded = _load_ivf_centroids(sess, index_dir)
    q = queries.select(
        F.col(id_col).alias("query_id"), quantized_vec(F.col(vec_col), scale).alias("_qq")
    )
    probed_clusters = sorted(
        r["_cid"]
        for r in _mips_nearest(q, "_qq", n_probe, cent_loaded)
        .select("_cid")
        .distinct()
        .collect()
    )
    idx = (
        sess.read.parquet(os.path.join(index_dir, "assignments"))
        # partition-pruned probe: only the probed clusters' dirs are read
        .filter(F.col("cluster").isin(probed_clusters))
        .select(
            F.col("id").alias("neighbor_id"),
            F.col("q").alias("_nq"),
            "cluster",
        )
    )
    return _mips_score_assigned(
        idx, queries, cent_loaded, k, n_probe, scale, id_col, vec_col
    )


def ivf_mips_persist_append(
    base: DataFrame,
    delta: DataFrame,
    queries: DataFrame,
    index_dir: str,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production ingest+serve LOOP on the durable index (r13 —
    ivf_mips_append composed with the persisted layout): the quantizer
    and the cluster-partitioned assignment table are built and WRITTEN
    from the BASE only; a DELTA batch is then ingested by reloading
    the k×dim centroid table, assigning ONLY the delta
    (O(|delta|·k·dim), no re-clustering, base assignment dirs never
    rewritten) and APPENDING its rows into the cluster partitions; the
    search runs entirely from the updated stored index with the same
    probed-cluster partition pruning as ivf_mips_persist_and_search.
    Value-identical to the in-memory ivf_mips_append (same quantize/
    seed/Lloyd/assign/score algebra — pinned in tests), so the
    registered oracle re-proves persist → append → pruned-search ≡
    one-shot append on every run.

    100 TB shape: this IS the embedding-store lifecycle — build once,
    append batches as cheap partition-local writes, serve reads that
    touch n_probe/n_clusters of the index directories; the only
    per-batch costs are the delta assignment against broadcast
    centroid metadata and the appended files."""
    import os

    sess = base.sparkSession
    _persist_ivf_index(base, index_dir, n_clusters, lloyd_iters, scale, id_col, vec_col)
    cent_loaded = _load_ivf_centroids(sess, index_dir)
    delta_corpus = _mips_quantize(delta, id_col, vec_col, scale)
    delta_assigned = _mips_nearest(delta_corpus, "_q", 1, cent_loaded).select(
        F.col("_id").alias("id"), F.col("_q").alias("q"), F.col("_cid").alias("cluster")
    )
    delta_assigned.write.partitionBy("cluster").mode("append").parquet(
        os.path.join(index_dir, "assignments")
    )
    return _search_persisted_ivf(
        sess, index_dir, queries, k, n_probe, scale, id_col, vec_col
    )


def ivf_mips_delete(
    base: DataFrame,
    tombstones: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    scale: int = 1024,
    retrain_num: int = 1,
    retrain_den: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Delete/compact leg of the IVF ledger (VERDICT r12 #2 — the
    LSM-style third leg next to build `ivf_mips_topk` and append
    `ivf_mips_append`): ``tombstones`` (an id frame) is masked out of
    the searchable set with one id anti-join — the kv_range_delete
    pattern applied to the ANN index — and a STALENESS RULE decides
    whether the coarse quantizer is retrained: when
    n_deleted·retrain_den ≥ n_live·retrain_num (deleted fraction of
    the live set ≥ τ = retrain_num/retrain_den, exact integer
    cross-multiply — no float ratio), the quantizer is rebuilt over
    the LIVE vectors only (compaction: centroids stop pointing at
    mass that no longer exists); below τ the quantizer is kept stale
    — trained over the full BASE rather than the live set, so the
    keep branch avoids re-deriving probe geometry from post-delete
    data (ADVICE r13: within one call both branches still run the
    same _mips_centroids build over their training frame; a deploy
    that wants the keep branch to skip quantizer work entirely feeds
    the persisted centroid table, the ml_ann_ivf_persisted path,
    instead of rebuilding per call). The
    decision is computed from the data on BOTH engines (one bounded
    1-row count agg + collect here — the graph_triangles_auto
    selector discipline — and a COUNT CTE in the SQL oracle) and is
    MATERIALIZED in the output: every result row carries
    (n_deleted, n_live, retrained), so a value-hash match proves the
    branch taken, not just the neighbor lists. Tombstone ids absent
    from the base are ignored (idempotent re-delete). Invariants
    pinned in tests: empty tombstones ≡ ivf_mips_topk; deleted ids
    never appear as neighbors; the branch flips exactly at τ.

    100 TB shape: deletes in a production embedding store must not
    trigger a re-cluster per batch — the mask branch is O(|corpus|)
    anti-join work with zero quantizer cost, and the retrain branch
    runs exactly when drift says the probe geometry degraded, the
    LSM compaction contract."""
    base_corpus = _mips_quantize(base, id_col, vec_col, scale)
    tomb = tombstones.select(F.col(id_col).alias("_tid")).distinct()
    # One pass for both counts: left-join marks each base vector dead
    # iff its id is tombstoned; the agg is a bounded 1-row collect.
    marked = base_corpus.join(tomb, F.col("_id") == F.col("_tid"), "left")
    stats = marked.agg(
        F.count(F.lit(1)).alias("n_base"),
        F.count("_tid").alias("n_deleted"),
    ).collect()[0]
    n_deleted = stats["n_deleted"]
    n_live = stats["n_base"] - n_deleted
    retrained = n_deleted * retrain_den >= n_live * retrain_num
    live = base_corpus.join(tomb, F.col("_id") == F.col("_tid"), "left_anti")
    train = live if retrained else base_corpus
    cent = _mips_centroids(train, n_clusters, lloyd_iters)
    out = _mips_score(live, queries, cent, k, n_probe, scale, id_col, vec_col)
    return out.select(
        "query_id",
        "neighbor_id",
        "dot",
        "rn",
        F.lit(n_deleted).cast("bigint").alias("n_deleted"),
        F.lit(n_live).cast("bigint").alias("n_live"),
        F.lit(bool(retrained)).alias("retrained"),
    )


def semdedup_summary(
    embeddings: DataFrame,
    n_clusters: int = 16,
    tau_sq_num: int = 1,
    tau_sq_den: int = 8,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540, public): cluster embeddings with a coarse
    quantizer, then WITHIN each cluster mark the later (higher-id)
    member of every pair with cos² ≥ τ² as a semantic duplicate and
    keep the rest — the embedding-space analog of minhash near-dup +
    survivor selection. Never an all-pairs join: pair cost is
    Σ_cluster |cluster|², and at scale n_clusters grows ∝ corpus (the
    paper runs 50k clusters for 100M points) so cluster population —
    and with it the quadratic term — stays bounded.

    Exactness recipe (the ivf_exact_topk integer lattice): vectors are
    power-of-two quantized, the assignment is integer L2 against
    md5-seeded centroids (tie → smaller cid), and the duplicate
    predicate is the cross-multiplied integer form
    ``dot > 0 AND tau_sq_den·dot² ≥ tau_sq_num·|a|²·|b|²`` — no sqrt,
    no division, so a SQL oracle reproduces every byte. Default
    τ² = 1/8 (τ ≈ 0.354), tuned to the synthetic embeddings' cosine
    spread. Overflow bound: |q_d| ≤ 614 on this corpus ⇒
    dot ≤ 2.4e7, tau_sq_den·dot² ≤ 4.6e15 « 2^63.

    Returns one row per cluster: (cluster, n_vectors, n_dup_pairs,
    n_removed, n_survivors)."""
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), quantized_vec(F.col(vec_col), scale).alias("_q")
    )
    seed_rows = (
        corpus.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_clusters)
        .collect()
    )
    cent = embeddings.sparkSession.createDataFrame(
        [(i, list(r["_q"])) for i, r in enumerate(seed_rows)],
        "_cid INT, _cvec ARRAY<BIGINT>",
    )
    w = Window.partitionBy("_id").orderBy(F.asc("_d2"), F.asc("_cid"))
    n2 = F.aggregate(
        F.zip_with(F.col("_q"), F.col("_q"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    assigned = (
        corpus.join(F.broadcast(cent), F.lit(True))
        .withColumn("_d2", int_l2sq(F.col("_q"), F.col("_cvec")))
        .withColumn("_cr", F.row_number().over(w))
        .filter(F.col("_cr") == 1)
        .select(F.col("_cid").alias("cluster"), "_id", "_q", n2.alias("_n2"))
    )
    # r14 (guide §1.2 step 1): `assigned` feeds THREE plan branches —
    # both sides of the within-cluster pair join and the per-cluster
    # size agg — and its own construction is the n_clusters-way
    # broadcast explode + integer L2 + per-id window, so unmaterialized
    # it re-ran 3×. Persist-mode park (measured: 2.9 s vs 5.0 s
    # checkpointed vs 3.5 s unparked at sf0.1): the frame's plan is
    # small (one scan + one window), and accurate statistics keep the
    # broadcast-vs-shuffle decision for the pair join data-driven —
    # at 100 TB the statistics exceed the threshold and the planner
    # degrades to the shuffle join on its own (the _park_degrees
    # argument), so the local broadcast is not a scale trap.

    assigned = park_persisted(assigned)
    a = assigned.select(
        "cluster",
        F.col("_id").alias("ia"),
        F.col("_q").alias("qa"),
        F.col("_n2").alias("na"),
    )
    b = assigned.select(
        "cluster",
        F.col("_id").alias("ib"),
        F.col("_q").alias("qb"),
        F.col("_n2").alias("nb"),
    )
    dot_i = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dup = (
        a.join(b, "cluster")
        .filter(F.col("ia") < F.col("ib"))
        .withColumn("_dot", dot_i)
        .filter(
            (F.col("_dot") > 0)
            & (
                F.lit(tau_sq_den) * F.col("_dot") * F.col("_dot")
                >= F.lit(tau_sq_num) * F.col("na") * F.col("nb")
            )
        )
        .select("cluster", "ia", "ib")
    )
    per_cluster = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    dup_stats = dup.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("ib").alias("n_removed"),
    )
    return (
        per_cluster.join(dup_stats, "cluster", "left")
        .fillna(0, ["n_dup_pairs", "n_removed"])
        .select(
            "cluster",
            "n_vectors",
            F.col("n_dup_pairs").cast("bigint").alias("n_dup_pairs"),
            F.col("n_removed").cast("bigint").alias("n_removed"),
            (F.col("n_vectors") - F.col("n_removed")).alias("n_survivors"),
        )
    )


def pq_adc_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_sub: int = 8,
    n_codes: int = 4,
    n_queries: int = 8,
    dims: int = 64,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-Quantization ADC search (Jégou, Douze, Schmid, TPAMI
    2011): the 64-dim vector splits into ``n_sub`` subvectors; each
    subspace has a tiny codebook (here: the subvectors of the same
    md5-seeded rows ivf_exact_topk uses as seeds), and every corpus
    vector is ENCODED as n_sub small codes — at scale this is the
    memory move that makes billion-vector search possible (8 bytes/
    vector instead of 256). Search is Asymmetric Distance Computation:
    the query precomputes an (n_sub × n_codes) table of subspace
    distances once, then every corpus vector's approximate distance is
    n_sub TABLE LOOKUPS — expressed relationally as the corpus code
    rows equi-joined against the broadcast ADC table and summed per
    (query, neighbor). All arithmetic is exact integer (quantized_vec),
    so a SQL oracle reproduces every byte. Scale shape: codebook and
    ADC table are bounded broadcasts; the corpus side is one narrow
    scan producing n_sub code rows per vector, one broadcast equi-join,
    one map-side-combinable sum — no corpus×corpus pair ever forms."""
    sub = dims // n_sub
    corpus = embeddings.select(
        F.col(id_col).alias("_id"), quantized_vec(F.col(vec_col), scale).alias("_q")
    )
    seed_rows = (
        corpus.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_codes)
        .collect()
    )
    book = embeddings.sparkSession.createDataFrame(
        [
            (m, cid, list(r["_q"])[m * sub : (m + 1) * sub])
            for m in range(n_sub)
            for cid, r in enumerate(seed_rows)
        ],
        "m INT, cid INT, cv ARRAY<BIGINT>",
    )
    subs = corpus.select(
        "_id",
        F.posexplode(
            F.array(*[F.slice(F.col("_q"), m * sub + 1, sub) for m in range(n_sub)])
        ).alias("m", "sv"),
    )
    wd = Window.partitionBy("_id", "m").orderBy(F.asc("_d2"), F.asc("cid"))
    codes = (
        subs.join(F.broadcast(book), "m")
        .withColumn("_d2", int_l2sq(F.col("sv"), F.col("cv")))
        .withColumn("_r", F.row_number().over(wd))
        .filter(F.col("_r") == 1)
        .select(F.col("_id").alias("neighbor_id"), "m", F.col("cid").alias("code"))
    )
    adc = (
        subs.filter(F.col("_id") < n_queries)
        .join(F.broadcast(book), "m")
        .select(
            F.col("_id").alias("query_id"),
            "m",
            F.col("cid").alias("code"),
            int_l2sq(F.col("sv"), F.col("cv")).alias("dq2"),
        )
    )
    scored = (
        codes.join(F.broadcast(adc), ["m", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dq2").cast("bigint").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "rn")
    )
