"""Deduplication operators (north-star LLM-pipeline surface).

Exact, MinHash-LSH, SimHash, and n-gram-Jaccard dedup over a document
DataFrame. Everything is banding + equi-join — never an O(n²)
crossJoin. The LSH candidate generation is the scale path: documents
are exploded to (band_id, band_hash) keys, pairs come from a
self-equi-join on those keys, and only candidate pairs pay the exact
Jaccard verification. At 100 TB this is the standard
shingle→minhash→band→bucket-join pipeline (the reference's
hash-bucket placement, local_file_kv_store.rs:62-70, applied to
similarity space instead of key space).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from fairy_spark.operators.skew import spread_width
from fairy_spark.operators.text import (
    jaccard,
    minhash_signature,
    portable_hash64,
    shingle_set,
    tokenize,
    word_ngrams,
)

# applicationId → ordered {fingerprint: [signature frame]} of persisted
# index tables (see minhash_lsh_candidates). Keyed on applicationId,
# not id(session): Python can reuse an id() after GC, which would
# unpersist another context's frames or skip cleanup entirely. The
# fingerprint ((cache_key, params) when the caller supplies one) lets
# REPEATED identical calls reuse the warm signature index instead of
# re-materializing it — the signature table IS an index, and an engine
# that rebuilds its index per query measures rebuild churn, not query
# cost. Up to _CACHE_CAP DISTINCT indexes stay warm per app (LRU): a
# pipeline that alternates the plain minhash dedup with the
# block-keyed n-gram variant holds two different indexes over the same
# corpus, and a 1-entry cache made them evict each other every call.
# Each entry is |docs| rows of shingle arrays at MEMORY_AND_DISK —
# spillable, so the cap bounds executor-memory pressure, not
# correctness. Entry shape: (frames, content_fingerprint) — the
# fingerprint (row count + max id) recorded at build time converts
# the "mutating the corpus under the same cache_key" trap from silent
# stale results into StaleSignatureIndex (VERDICT r4 #6).
_SHINGLE_CACHE: dict[str, dict[object, tuple[list[DataFrame], object]]] = {}
# 3, not 2: the incremental-maintenance path (minhash_lsh_append)
# legitimately holds a base index AND a delta index warm next to one
# other full-corpus index; a 2-slot cache made those three evict each
# other every call.
_CACHE_CAP = 3


class StaleSignatureIndex(RuntimeError):
    """The corpus under a cache_key changed since its signature index
    was built. Callers must change the key (or pass None) when the
    corpus mutates — this error enforces that documented contract."""


def _corpus_fingerprint(docs: DataFrame, id_col: str) -> tuple:
    """Cheap content identity: (row count, max id). One columnar agg
    over the raw input — milliseconds next to shingling — yet any
    append, truncation, or id-space change under a reused cache_key
    flips it. Equal-cardinality same-max TEXT edits still slip by;
    the contract (key must change on mutation) still stands, this is
    the tripwire for the common mutation shapes."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.col(id_col)).alias("mx")
    ).first()
    return (row["n"], row["mx"])


def clear_signature_cache(spark) -> None:
    """Drop this application's warm shingle/signature index (unpersist
    + forget). Bench protocol hook: clearing before a timed run makes
    it pay the FULL build+query cost, directly comparable to a frozen
    full-call baseline — the r3 split accounting (untimed priming +
    separate build figure) measured a different thing than BASELINE.md
    and was flagged for it (VERDICT r3, What's-wrong 2)."""
    app_id = spark.sparkContext.applicationId
    cache = _SHINGLE_CACHE.pop(app_id, None)
    for frames, _fp in (cache or {}).values():
        for df in frames:
            df.unpersist(blocking=True)


def exact_dedup_stats(docs: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Per-group exact-duplicate stats via content hash (sha256)."""
    return (
        docs.withColumn("_h", F.sha2(F.col(text_col), 256))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_h").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct("_h")).alias("n_dup"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one doc per distinct text (lowest id wins — deterministic)."""
    return (
        docs.withColumn("_h", F.sha2(F.col(text_col), 256))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .drop("_h")
    )


def _shingled_sig_hof(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    block: list[str],
) -> DataFrame:
    """(id, *block, shingles, sig) via JVM higher-order functions — the
    r1-r4 construction, kept as the reference the Arrow path is gated
    against (tests/test_substring_engines.py pattern). Project to
    (id, text) BEFORE the repartition — the shuffle carries only what
    shingling needs — but compute shingles AFTER it, so the expensive
    tokenize+ngram work runs on all cores, not the input file's few
    partitions."""
    src = docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block],
        F.col(text_col).alias("_text"),
    )
    width = spread_width(src)
    if width:
        src = src.repartition(width)
    shingled = src.select(
        "id", *block, shingle_set(F.col("_text"), shingle_n).alias("shingles")
    )
    return shingled.withColumn("sig", minhash_signature(F.col("shingles"), num_hashes))


def _shingled_sig_arrow(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    block: list[str],
) -> DataFrame:
    """(id, *block, shingles, sig) via mapInPandas — the shipped build.
    Same profile result as the substring pass (BASELINE r5 note): the
    HOF layer's per-shingle string assembly + md5 dominates the cold
    index build, while this path tokenizes, windows, and hashes at C
    speed inside Arrow batches. Value-identical by construction —
    the 60-bit window at hex offset i of the digest,
    ``(int.from_bytes(md5(s).digest()) >> 4*(32-i-15)) & (2^60-1)``,
    IS ``int(md5(s).hexdigest()[i:i+15], 16)`` IS
    ``conv(substr(md5(s), 1+i, 15), 16, 10)`` (hex chars are big-endian
    nibbles of the digest; 60 bits fits signed BIGINT — r15 swapped the
    per-window hexdigest slice+parse for one int.from_bytes + shifts,
    same values, fewer interpreted ops per shingle), empty/short docs
    yield [] shingles and all-null signatures exactly like array_min
    over nothing — and gated by an equality test against the HOF
    form."""
    assert num_hashes <= 18, "60-bit windows beyond hex offset 17 leave the digest"
    import pandas as pd

    def gen(batches):
        import hashlib
        import re

        ws = re.compile(r"\s+")
        mask = (1 << 60) - 1
        shifts = [4 * (32 - i - 15) for i in range(num_hashes)]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in ["id", *block, "shingles", "sig"]}
            # zip over raw columns, not itertuples: pandas renames
            # underscore-prefixed fields to positional _1 style there
            cols = [pdf["id"], *[pdf[c] for c in block], pdf["_text"]]
            for rid, *rest in zip(*cols):
                t = rest[-1]
                toks = ws.split(t.lower()) if t else ([""] if t == "" else [])
                seen: set = set()
                shingles: list[str] = []
                for p in range(len(toks) - shingle_n + 1):
                    g = " ".join(toks[p : p + shingle_n])
                    if g not in seen:
                        seen.add(g)
                        shingles.append(g)
                if shingles:
                    vals = [
                        int.from_bytes(hashlib.md5(s.encode("utf-8")).digest(), "big")
                        for s in shingles
                    ]
                    sig = [min((v >> sh) & mask for v in vals) for sh in shifts]
                else:
                    sig = [None] * num_hashes
                out["id"].append(rid)
                for c, v in zip(block, rest[:-1]):
                    out[c].append(v)
                out["shingles"].append(shingles)
                out["sig"].append(sig)
            yield pd.DataFrame(out)

    from fairy_spark.shipping import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    src = docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block],
        F.col(text_col).alias("_text"),
    )
    # Scale-adaptive spread (r15, guide §2): width from the input-size
    # estimate instead of repartition(defaultParallelism); no reshuffle
    # at all once the scan's own splits reach it (at 100 TB the former
    # constant forced a full round-robin shuffle of the corpus text).
    width = spread_width(src)
    if width:
        src = src.repartition(width)
    block_schema = "".join(
        f", {c} {src.schema[c].dataType.simpleString()}" for c in block
    )
    return src.mapInPandas(
        gen, schema=f"id long{block_schema}, shingles array<string>, sig array<bigint>"
    )


def _signature_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    block: list[str],
    cache_key: str | None,
) -> DataFrame:
    """The warm (id, *block, shingles, sig) signature INDEX, built or
    served from the per-app LRU cache (see _SHINGLE_CACHE). Extracted
    from minhash_lsh_candidates so the incremental-maintenance path
    (minhash_lsh_append) can hold a base index and a delta index warm
    side by side under distinct cache keys."""
    app_id = docs.sparkSession.sparkContext.applicationId
    fp = (
        (cache_key, id_col, text_col, shingle_n, num_hashes, tuple(block))
        if cache_key is not None
        else None
    )
    cache = _SHINGLE_CACHE.setdefault(app_id, {})
    if fp is not None and fp in cache:
        (sig,), recorded = cache[fp]
        actual = _corpus_fingerprint(docs, id_col)
        if actual != recorded:
            raise StaleSignatureIndex(
                f"cache_key {cache_key!r}: corpus fingerprint changed "
                f"{recorded} -> {actual}; the signature index was built "
                "over a different corpus. Change the cache_key when the "
                "corpus mutates, or clear_signature_cache() first."
            )
        # refresh LRU position (dicts iterate in insertion order)
        cache[fp] = cache.pop(fp)
        return sig
    # ONE persisted table — (id, shingles, sig) — feeds all four
    # downstream subtrees (two band-join sides, two verify sides):
    # without it the md5 pipeline runs 4x inside one action; with
    # TWO separate persists (shingles, then sig on top — the r1-r3
    # shape) the cold build paid an extra cache write+read pass for
    # no reader that needs shingles without sig. Same-key and
    # over-cap entries are dropped first: a per-call persist with
    # no unpersist accumulates one copy per invocation (measured:
    # e2e degraded 6s → 16s over three calls at sf0.1 from
    # cache+GC pressure). Project to (id, text) BEFORE the
    # repartition — the shuffle carries only what shingling needs —
    # but compute the shingles AFTER it, so the expensive
    # tokenize+ngram work runs on all cores, not on the input
    # file's few partitions.
    sig = _shingled_sig_arrow(
        docs, id_col, text_col, shingle_n, num_hashes, block
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # fp=None (uncacheable caller) still occupies a slot under the
    # None key so the NEXT call unpersists it — nothing leaks.
    if fp in cache:
        for prev in cache.pop(fp)[0]:
            prev.unpersist(blocking=False)
    # Materialize eagerly: the four subtrees race and recompute on a
    # cold cache otherwise (measured 7s vs 2s at sf0.1). One tiny
    # job up front makes the big join read warm cache
    # deterministically. For reusable entries the SAME job records
    # the corpus fingerprint — sig carries one row per doc with the
    # id column intact, so (count, max id) over sig ≡ the
    # _corpus_fingerprint of docs, and fusing them saves one of the
    # cold path's fixed-overhead jobs (r6 stage profile,
    # BASELINE.md §3).
    if fp is not None:
        row = sig.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.col("id")).alias("mx")
        ).first()
        content = (row["n"], row["mx"])
    else:
        # fp=None slot is never served back — don't pay the agg
        content = None
        sig.count()
    cache[fp] = ([sig], content)
    while len(cache) > _CACHE_CAP:
        oldest = next(iter(cache))
        for prev in cache.pop(oldest)[0]:
            prev.unpersist(blocking=False)
    return sig


def _band_frame(
    sig: DataFrame, block: list[str], num_hashes: int, band_rows: int
) -> DataFrame:
    """(id, *block, band_id, band_hash) rows from a signature index.
    Docs with an EMPTY shingle set (fewer than n tokens) carry an
    all-null signature; concat_ws silently renders null components as
    equal empty strings, so without the filter every shingle-less doc
    lands in one giant band bucket and pairs with every other — pairs
    a null-comparing SQL oracle correctly rejects, and whose Jaccard
    is 0/0. Shingle-less docs cannot be shingle-near-dups by
    definition; exclude them before banding on both engines'
    semantics."""
    n_bands = num_hashes // band_rows
    return sig.filter(F.size("shingles") > 0).select(
        "id",
        *block,
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[F.col("sig").getItem(b * band_rows + r) for r in range(band_rows)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 1,
    cache_key: str | None = None,
    with_estimate: bool = False,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band,
    annotated with exact Jaccard over shingle sets.

    ``block_cols``: optional extra blocking columns of ``docs`` (e.g.
    (source, length-bucket)). When given, candidates must ALSO agree on
    every block column — the band self-join is keyed by
    (*block_cols, band_id, band_hash), so a blocked caller gets the
    band bound INSIDE each block instead of an all-pairs join whose
    cost grows quadratically with block population.

    ``with_estimate`` adds ``est_jaccard`` — the fraction of agreeing
    minhash signature components, the estimator a production pipeline
    would filter on INSTEAD of the exact verify once the corpus is too
    large to re-shingle candidate pairs. Joining it next to the exact
    value turns the query into an estimator-quality diagnostic.

    num_hashes/band_rows tune recall vs candidate volume: 8 hashes in
    1-row bands ≈ P(candidate) = 1-(1-j)^8 — high recall; at larger
    scale use band_rows=2+ to suppress low-similarity collisions.
    MEASURED (SCALE.md "Measured pair-count growth", scale_bench.py):
    random collisions grow as n²/2·n_bands·E[J_random^band_rows], so
    1-row bands are a small-corpus setting — at 80k synthetic docs
    rows=2 cut the candidate set 27× at 80% recall; band_rows must
    grow ~log(n) with the corpus.

    PRODUCTION DEFAULT AT SCALE: ``num_hashes=16, band_rows=2`` — the
    measured (16,2) geometry (SCALE.md "band geometry at scale")
    recovers 94% of true pairs at 7% of the 1-row candidate volume on
    the 80k synth corpus, and its collision tail grows with
    E[J^2] instead of E[J], which is what keeps the band join
    sub-quadratic on a 100 TB corpus. As of r8 this geometry IS the
    registered scale default: `dedup_minhash_scale` (queries/llm.py)
    runs (16,2) hash-checked against its own banded oracle and is a
    bench headline row; `dedup_minhash_lsh` keeps the small-corpus
    (8,1) setting as the bounded high-recall twin (its frozen baseline
    and oracle were recorded with it), and bench.py still tracks the
    (8,2) cold number ("minhash_band2_cold_sec").

    ``cache_key``: stable identity of the input corpus (e.g. its
    path). When provided, a repeat call with the same key and params
    reuses the warm persisted shingle+signature tables instead of
    re-materializing them — the LSH signature table is an index, built
    once and probed many times in a real pipeline. Callers that mutate
    the corpus between calls must change the key (or pass None).
    """
    assert num_hashes % band_rows == 0
    block = list(block_cols or [])
    sig = _signature_index(
        docs, id_col, text_col, shingle_n, num_hashes, block, cache_key
    )
    # Bands carry ONLY (id, band_id, band_hash): the band self-join
    # shuffles a few dozen bytes per row instead of the shingle arrays;
    # shingles are joined back just for the surviving candidate pairs.
    bands = _band_frame(sig, block, num_hashes, band_rows)

    # No explicit repartition on the join keys (r15). The former
    # repartition(defaultParallelism, *keys) was a local-mode constant
    # that defeated AQE: at sf0.1 the planner broadcasts the band frame
    # (persisted-sig stats are accurate), so BOTH sides carried a dead
    # 32-partition REPARTITION_BY_NUM exchange — the broadcast side
    # shuffled and then collected (plan (23)→(24) in
    # plans/r15/dedup_minhash_lsh_before.txt); measured 1.46 s → 0.63 s
    # for the pairs stage alone with the planner left in charge. At
    # scale the band frame outgrows the broadcast threshold and the
    # planner inserts ENSURE_REQUIREMENTS exchanges that AQE sizes from
    # the actual band bytes (guide §2.2) — exactly the scale-adaptive
    # behavior the constant overrode.
    join_keys = [*block, "band_id", "band_hash"]
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), join_keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification: join the shingle sets back for candidate pairs only,
    # as SHUFFLE joins on id — the shingle table is O(corpus), so
    # broadcasting it caps at driver/executor memory long before 100 TB;
    # the shuffle join is |pairs|-bound (never |docs|²) and measured
    # no slower at sf0.1.
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard")
    if not with_estimate:
        sh_a = sig.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
        sh_b = sig.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
        return (
            pairs.join(sh_a, "id_a").join(sh_b, "id_b")
            .select("id_a", "id_b", jac)
        )
    # with_estimate (VERDICT r14 #5): the r14 shape joined FOUR
    # projections of the index (sh_a, sh_b, sg_a, sg_b) — four index
    # reads and four |pairs|-side shuffles at scale. Collapsed to ONE
    # index read: explode each pair into (pair, side, id) rows, one
    # equi-join against (id, shingles, sig), then a per-pair pivot
    # groupBy. Exactly one non-null row per (pair, side), so the
    # ignorenulls-first pivot is deterministic; the jaccard/estimate
    # expressions are unchanged, value-identical.
    sides = pairs.select(
        "id_a",
        "id_b",
        F.explode(
            F.array(F.col("id_a"), F.col("id_b"))
        ).alias("id"),
    )
    joined = sides.join(sig.select("id", "shingles", "sig"), "id")
    per_pair = joined.groupBy("id_a", "id_b").agg(
        F.first(
            F.when(F.col("id") == F.col("id_a"), F.col("shingles")), ignorenulls=True
        ).alias("sh_a"),
        F.first(
            F.when(F.col("id") == F.col("id_b"), F.col("shingles")), ignorenulls=True
        ).alias("sh_b"),
        F.first(
            F.when(F.col("id") == F.col("id_a"), F.col("sig")), ignorenulls=True
        ).alias("sig_a"),
        F.first(
            F.when(F.col("id") == F.col("id_b"), F.col("sig")), ignorenulls=True
        ).alias("sig_b"),
    )
    # Signature agreement fraction: matches/num_hashes is an exact
    # multiple of 1/num_hashes, so the quotient is bit-identical
    # across engines. Null components (empty shingle sets) count as
    # non-matching on both sides.
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    return per_pair.select(
        "id_a",
        "id_b",
        jac,
        (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def minhash_lsh_append(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 1,
    cache_key: str | None = None,
) -> DataFrame:
    """Incremental LSH index maintenance: candidate near-dup pairs
    (id_a < id_b) INVOLVING a corpus delta, without rebuilding the
    base signature index (VERDICT r6 #6a).

    Minhash banding is per-doc independent, so appending a delta only
    creates pairs that touch a delta doc: the delta's bands probe the
    UNION of base and delta bands in an equi-join, and base×base pairs
    can never appear on the probe side. Cost is ∝ |delta| × bucket
    occupancy — the append a streaming-ingest pipeline pays per batch —
    versus the full rebuild's ∝ |corpus|. With a ``cache_key``, the
    base index persists warm under ``{key}#base`` across appends (the
    staleness fingerprint still trips if the base corpus mutates), and
    the delta under ``{key}#delta``; the result is value-identical to
    the full-rebuild candidates restricted to delta-involving pairs
    (gated by test_minhash_append_matches_full_rebuild)."""
    base_sig = _signature_index(
        base_docs, id_col, text_col, shingle_n, num_hashes, [],
        f"{cache_key}#base" if cache_key is not None else None,
    )
    delta_sig = _signature_index(
        delta_docs, id_col, text_col, shingle_n, num_hashes, [],
        f"{cache_key}#delta" if cache_key is not None else None,
    )
    bands_delta = _band_frame(delta_sig, [], num_hashes, band_rows)
    bands_all = bands_delta.unionByName(
        _band_frame(base_sig, [], num_hashes, band_rows)
    )
    join_keys = ["band_id", "band_hash"]
    # Same planning rule as the full build after r15: no explicit
    # repartition constant — the planner's ENSURE_REQUIREMENTS
    # exchanges are AQE-coalescible and size themselves from the band
    # bytes. The shuffle_hash hint stays: it pins the union side away
    # from a broadcast the size estimator would misjudge (the base
    # band table is O(corpus)).
    pairs = (
        bands_delta.alias("d")
        .join(bands_all.hint("shuffle_hash").alias("o"), join_keys)
        .filter(F.col("d.id") != F.col("o.id"))
        .select(
            F.least(F.col("d.id"), F.col("o.id")).alias("id_a"),
            F.greatest(F.col("d.id"), F.col("o.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_all = base_sig.unionByName(delta_sig)
    sh_a = sig_all.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sig_all.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )


def _gram_digests_hof(docs: DataFrame, gram_n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, md5(gram)) via JVM higher-order functions — the reference
    construction the Arrow path is cross-checked against
    (tests/test_substring_engines.py)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(word_ngrams(tokenize(F.col(text_col)), gram_n))
        ).alias("gram"),
    ).select("id", F.md5(F.col("gram")).alias("g"))


def _gram_digests_arrow(docs: DataFrame, gram_n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, md5(gram)) via mapInPandas. Profiled (BASELINE.md §3 r5
    note): the HOF form spends its time materializing ~100-byte gram
    STRINGS per token position in the interpreted HOF layer — 4.1-4.6 s
    at sf0.1 for the explode+count alone — while this path tokenizes,
    windows, and hashes at C speed inside Arrow batches. Semantics are
    identical by construction and gated by an equality test: Python
    re.split(r'\\s+') + str.lower() matches tokenize()'s
    split(lower(x), '\\s+') on the corpus charset, ' '.join matches
    concat_ws, hashlib.md5 IS md5()."""
    import pandas as pd

    def gen(batches):
        import hashlib
        import re

        ws = re.compile(r"\s+")
        for pdf in batches:
            ids: list = []
            gs: list = []
            for i, t in zip(pdf["id"], pdf["_text"]):
                toks = ws.split(t.lower()) if t else [t if t is not None else ""]
                seen = set()
                for p in range(len(toks) - gram_n + 1):
                    g = " ".join(toks[p : p + gram_n])
                    if g not in seen:
                        seen.add(g)
                        ids.append(i)
                        gs.append(hashlib.md5(g.encode("utf-8")).hexdigest())
            yield pd.DataFrame({"id": ids, "g": gs})

    from fairy_spark.shipping import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    src = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
    # Scale-adaptive spread (r15): width from the input-size estimate,
    # no reshuffle once the scan's own splits provide the parallelism.
    width = spread_width(src)
    if width:
        src = src.repartition(width)
    return src.mapInPandas(gen, schema="id long, g string")


def substring_dedup_pairs(
    docs: DataFrame,
    gram_n: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_docs: int = 16,
    engine: str = "arrow",
) -> DataFrame:
    """Exact-substring dedup: doc pairs sharing >= 1 exact run of
    ``gram_n`` consecutive tokens, with the count of shared runs —
    the fixed-granularity approximation of suffix-array substring
    dedup from Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499), the standard
    training-data pass minhash doesn't replace (minhash scores whole-
    doc similarity; this catches a long verbatim quote inside two
    otherwise-different docs).

    Plan shape (100 TB story): one gram per token position (explode is
    corpus-LINEAR, ~|tokens| rows), grams carried as md5 digests so the
    shuffle moves 32 bytes not 15-token strings, ONE hash partition on
    the digest feeds both the frequency window and the pair self-join
    (the window's planner-inserted hashpartitioning(g) exchange — AQE-
    coalescible since r15, when the former explicit
    repartition(defaultParallelism, g) local-mode constant was dropped:
    measured 1.26 s → 0.78 s at sf0.1, same plan shape at scale because
    ENSURE_REQUIREMENTS inserts the identical hash partitioning sized
    from the actual gram bytes). Grams appearing in more than ``max_gram_docs``
    docs are dropped as boilerplate — exactly what production pipelines
    do (license headers, templates), and simultaneously the quadratic
    bound: pair cost is Sum_grams |docs_g|^2 <= max_gram_docs * |grams|,
    corpus-linear by construction. The cap is part of the semantics and
    must be mirrored by any oracle.

    ``engine``: 'arrow' (default — Arrow-batched gram hashing, ~2x the
    HOF form at sf0.1, see _gram_digests_arrow) or 'hof' (pure JVM
    reference path). Equality of the two is a gated test."""
    grams = (_gram_digests_arrow if engine == "arrow" else _gram_digests_hof)(
        docs, gram_n, id_col, text_col
    )
    from pyspark.sql import Window

    w = Window.partitionBy("g")
    kept = grams.withColumn("nd", F.count(F.lit(1)).over(w)).filter(
        (F.col("nd") >= 2) & (F.col("nd") <= max_gram_docs)
    )
    # Shuffle-hash pin, NOT the planner's choice: kept is O(corpus) and
    # explode-derived, so size estimation undershoots and AQE happily
    # broadcasts it (observed at sf0.01) — a plan that dies at scale.
    # Pinned, both aliases of the SAME plan read the window's
    # hashpartitioning(g) output and the join is exchange-free.
    return (
        kept.alias("a")
        .join(kept.hint("shuffle_hash").alias("b"), "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """Per-doc SimHash: bit j of the fingerprint is the sign of the sum
    over tokens of (token-hash bit j ? +1 : -1). Computed as one
    explode + hash-agg (single shuffle), bits recombined arithmetically
    so DuckDB can reproduce it exactly."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.pmod(portable_hash64(F.col("tok"), "simhash"), F.lit(1 << bits)))
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("id", fp.cast("bigint").alias("simhash"))


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash (Manku et al.'s deployed width) as TWO 32-bit
    BIGINT halves (`simhash_hi`, `simhash_lo`) rather than one 64-bit
    word: a single-word 64-bit fingerprint crosses the 2^63 sign bit,
    which breaks exact cross-engine (Spark vs DuckDB) integer
    arithmetic — the split keeps every value in [0, 2^32), exactly
    representable in both engines and in pandas int64, so the row is
    hash-checkable (SCALE.md r8's production pointer, registered in
    r9). Each half is a full 32-bit simhash over an INDEPENDENTLY
    seeded token hash ('simhash64lo'/'simhash64hi' md5 streams), which
    is exactly the simhash contract: fingerprint bit j = sign of the
    sum over tokens of (hash bit j ? +1 : -1), all 64 hash bits
    independent. One explode + one hash-agg (single shuffle), same
    plan as simhash() with twice the agg width."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    ).select(
        "id",
        F.pmod(portable_hash64(F.col("tok"), "simhash64lo"), F.lit(1 << 32)).alias("hlo"),
        F.pmod(portable_hash64(F.col("tok"), "simhash64hi"), F.lit(1 << 32)).alias("hhi"),
    )
    aggs = []
    for j in range(32):
        aggs.append(
            F.sum(
                F.when(F.shiftright(F.col("hlo"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"lo{j}")
        )
        aggs.append(
            F.sum(
                F.when(F.shiftright(F.col("hhi"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"hi{j}")
        )
    bit_sums = toks.groupBy("id").agg(*aggs)
    lo = None
    hi = None
    for j in range(32):
        tlo = F.when(F.col(f"lo{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        thi = F.when(F.col(f"hi{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        lo = tlo if lo is None else lo + tlo
        hi = thi if hi is None else hi + thi
    return bit_sums.select(
        "id",
        hi.cast("bigint").alias("simhash_hi"),
        lo.cast("bigint").alias("simhash_lo"),
    )


def simhash64_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within ``max_hamming`` of each
    other's 64-bit simhash — the production crawl-dedup geometry
    (Manku et al. WWW'07) over ANY document frame; the registered
    `dedup_simhash_scale64` pins this exact plan against its oracle.
    8 bands x 8 bits (4 per two-BIGINT half): any pair at hamming <= 7
    agrees exactly on >= 1 band (pigeonhole), so candidates come from
    the banded shuffle equi-join and are verified by the exact
    two-half bit_count sum — pair cost Sum|bucket|^2, never corpus^2.

    ``max_hamming`` must be <= 7: the pigeonhole recall guarantee holds
    only while the hamming budget is below the band count (8 bands can
    all differ once >= 8 bits flip), so a larger budget would return
    silently incomplete pairs — rejected instead."""
    band_bits = 8
    n_bands = 8
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 8-band x 8-bit recall "
            "bound: candidates are only guaranteed complete for hamming <= 7 "
            "(pigeonhole over 8 bands)"
        )
    mask = (1 << band_bits) - 1
    sig = simhash64(docs, id_col=id_col, text_col=text_col)
    # r14 (guide §1.2 step 1): `sig` — the corpus tokenize-explode +
    # 64-accumulator hash agg — fed BOTH self-join sides
    # unmaterialized, so the before-plan computed the whole signature
    # subtree twice (and broadcast one un-materialized O(corpus)
    # subtree wholesale). One eager localCheckpoint: ONE evaluation; the
    # LogicalRDD leaf carries the true materialized size, so the
    # banded join stays statistics-driven — the 8×|docs|-row frame
    # broadcasts while it genuinely fits and demotes to the shuffle
    # equi-join at scale (measured 6.8 s → 3.7 s at sf0.1).

    sig = sig.localCheckpoint(eager=True)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(
                    F.col("simhash_lo") if b < 4 else F.col("simhash_hi"),
                    (b % 4) * band_bits,
                )
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        "id", "simhash_hi", "simhash_lo", F.explode(bands).alias("b")
    ).select("id", "simhash_hi", "simhash_lo", "b.band_id", "b.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(
        F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo"))
    ) + F.bit_count(F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def _winnow_fps_hof(docs, id_col: str, text_col: str, k: int, w: int):
    """(id, n_fp, fp) exploded winnow fingerprints via the JVM
    higher-order-function expression — the reference construction the
    Arrow path is gated against (tests/test_substring_engines.py
    pattern). SLOW in execution: winnow_fingerprints' z-chain inlines
    the md5 gram-hash transform (and, transitively, word_ngrams' own
    zip chain) once per zip_with layer — Catalyst does not CSE across
    higher-order functions (the cdc_chunks lesson) — so the generated
    expression re-tokenizes and re-hashes each row many times and the
    codegen'd tree is large enough to fall back to interpretation."""
    from fairy_spark.operators.text import tokenize, winnow_fingerprints

    return docs.select(
        F.col(id_col).alias("id"),
        winnow_fingerprints(tokenize(F.col(text_col)), k=k, w=w).alias("fps"),
    ).select("id", F.size("fps").alias("n_fp"), F.explode("fps").alias("fp"))


def _py_winnow(t, k: int, w: int) -> tuple[int, list]:
    """Pure-Python winnow selection for one document text — shared by
    the Arrow builders below. Returns (n_grams, fps). Value-identical
    to winnow_fingerprints(tokenize(text), k, w) by construction —
    Python re.split(r'\\s+') + str.lower() matches tokenize() on the
    corpus charset, ' '.join matches concat_ws, and
    int.from_bytes(md5('win:'+g).digest()) >> 68 IS
    conv(substr(md5(concat('win',':',g)),1,15),16,10) (top 60 bits of
    the digest; fits signed BIGINT) — gated by equality tests against
    the HOF form (tests/test_winnow_engines.py). Selection mirrors
    winnow_fingerprints exactly: per-window minima for >= w gram
    hashes (first-occurrence distinct), single global min for
    0 < |grams| < w, empty otherwise."""
    import hashlib
    import re

    toks = re.split(r"\s+", t.lower()) if t else ([""] if t == "" else [])
    hs = [
        int.from_bytes(
            hashlib.md5(
                b"win:" + " ".join(toks[p : p + k]).encode("utf-8")
            ).digest(),
            "big",
        )
        >> 68
        for p in range(len(toks) - k + 1)
    ]
    if len(hs) >= w:
        seen: set = set()
        fps: list = []
        for i in range(len(hs) - w + 1):
            m = min(hs[i : i + w])
            if m not in seen:
                seen.add(m)
                fps.append(m)
    elif hs:
        fps = [min(hs)]
    else:
        fps = []
    return len(hs), fps


def _winnow_fps_arrow(docs, id_col: str, text_col: str, k: int, w: int):
    """(id, n_fp, fp) exploded winnow fingerprints via mapInPandas —
    the shipped build (guide §4.2: batch the heavy per-doc pass into
    native-speed Python instead of a re-expanding HOF tree; measured
    ~25-35 s → sub-second for the fingerprint pass at sf0.1). Identity
    argument and gate: _py_winnow."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids: list = []
            nfps: list = []
            fs: list = []
            for rid, t in zip(pdf["id"], pdf["_text"]):
                _, fps = _py_winnow(t, k, w)
                n = len(fps)
                ids.extend([rid] * n)
                nfps.extend([n] * n)
                fs.extend(fps)
            yield pd.DataFrame({"id": ids, "n_fp": nfps, "fp": fs})

    from fairy_spark.shipping import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    src = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
    width = spread_width(src)
    if width:
        src = src.repartition(width)
    return src.mapInPandas(gen, schema="id long, n_fp int, fp bigint")


def _winnow_docs_arrow(docs, id_col: str, text_col: str, k: int, w: int):
    """Per-doc winnow summary via mapInPandas: (id, n_grams, n_fp,
    fp_checksum, fps) — one row per INPUT document (zero-fingerprint
    docs included, unlike the exploded builder). fp_checksum is the
    order-pinned fold over the sorted fingerprint set:
    fold(a, f -> (a*131 + f % 1e9) % 1000000007, 0) — exact integer
    arithmetic, so it matches the JVM aggregate()/oracle list_reduce
    bit-for-bit. Selection + hash identity: _py_winnow (gated in
    tests/test_winnow_engines.py)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids: list = []
            ngs: list = []
            nfps: list = []
            cks: list = []
            fss: list = []
            for rid, t in zip(pdf["id"], pdf["_text"]):
                n_grams, fps = _py_winnow(t, k, w)
                c = 0
                for f in sorted(fps):
                    c = (c * 131 + f % 1000000000) % 1000000007
                ids.append(rid)
                ngs.append(n_grams)
                nfps.append(len(fps))
                cks.append(c)
                fss.append(fps)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "n_grams": ngs,
                    "n_fp": nfps,
                    "fp_checksum": cks,
                    "fps": fss,
                }
            )

    from fairy_spark.shipping import ensure_package_shipped

    ensure_package_shipped(docs.sparkSession)
    src = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
    width = spread_width(src)
    if width:
        src = src.repartition(width)
    return src.mapInPandas(
        gen,
        schema="id long, n_grams int, n_fp int, fp_checksum bigint,"
        " fps array<bigint>",
    )


def winnow_best_match(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
    min_df: int = 2,
    max_df: int = 50,
    engine: str = "arrow",
):
    """Per-document best match by shared WINNOWING fingerprints — the
    MOSS report shape (Schleimer et al. 2003 §5, public): explode each
    doc's winnowed fingerprint set, drop fingerprints appearing in
    fewer than ``min_df`` docs (unshareable) or more than ``max_df``
    docs (boilerplate "stop fingerprints" — the frequency cap that
    bounds every fingerprint bucket's self-join fan-out at max_df², the
    same move MOSS makes for common code idioms), equi-join on the
    fingerprint key, aggregate shared counts per pair, then keep each
    doc's best partner (most shared fingerprints, ties to smallest
    partner id).

    Returns (id, match_id, shared_fp, n_fp, score_ppm) with score =
    shared / min(|fp_a|, |fp_b|) in exact integer ppm. Plan: fp
    explode → fp-count hash agg → capped fp self-join → pair hash agg
    → per-doc top-1 window (bounded per doc) — cost ∝ Σ_fp min(df,
    max_df)², never doc pairs. Complements minhash (set overlap) and
    simhash (fingerprint distance): winnowing matches PASSAGES, so a
    doc embedding a long quote of another surfaces here even when its
    global similarity is low."""
    if min_df < 1 or max_df < min_df:
        raise ValueError(
            f"winnow_best_match needs 1 <= min_df <= max_df, got "
            f"min_df={min_df} max_df={max_df}"
        )
    from pyspark.sql import Window


    # r14 (guide §1.2 steps 1+2): the winnowed-fingerprint pass is the
    # expensive per-doc work, and it fed FOUR plan branches unpersisted
    # (df-count agg, keep probe, both aliases of the pair self-join).
    # Two fixes compose here: the pass itself now runs in Arrow batches
    # (``engine='arrow'``; the HOF expression tree re-expanded the md5
    # gram transform per zip_with layer — see _winnow_fps_hof), and one
    # checkpoint boundary on `fps` makes its one evaluation feed every
    # branch (checkpoint, not persist: the statistics-less leaf keeps
    # the corpus-shaped fingerprint table out of broadcast plans, which
    # is also the only plan that survives at 100 TB).
    fps = (_winnow_fps_arrow if engine == "arrow" else _winnow_fps_hof)(
        docs, id_col, text_col, k, w
    ).localCheckpoint(eager=True)
    df_counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    keep = (
        fps.join(
            df_counts.filter((F.col("df") >= min_df) & (F.col("df") <= max_df)), "fp"
        )
        .select("id", "n_fp", "fp")
        .localCheckpoint(eager=True)
    )
    a, b = keep.alias("a"), keep.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id"),
            F.col("a.n_fp").alias("n_fp"),
            F.col("b.id").alias("match_id"),
            F.col("b.n_fp").alias("n_fp_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fp"))
    )
    scored = pairs.withColumn(
        "score_ppm",
        F.expr("shared_fp * 1000000L DIV least(n_fp, n_fp_b)"),
    )
    top = Window.partitionBy("id").orderBy(
        F.desc("shared_fp"), F.asc("match_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") == 1)
        .select("id", "match_id", "shared_fp", F.col("n_fp").cast("int"), "score_ppm")
    )


def hamming_pairs(
    sig: DataFrame,
    bits: int,
    n_bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "sig",
) -> DataFrame:
    """Generic banded hamming near-dup join over ONE BIGINT fingerprint
    column (the simhash16/simhash64_pairs geometry, factored so any
    integer perceptual hash — simhash, image dHash, audio chromaprint
    stand-ins — reuses the same plan): split the ``bits``-wide hash
    into ``n_bands`` equal bands; by pigeonhole any pair at hamming <=
    max_hamming < n_bands agrees exactly on >= 1 band, so candidates
    come from the (band_id, band_val) shuffle equi-join — pair cost
    Sum|bucket|^2, never corpus^2 — and are verified by the exact
    bit_count(xor). Returns distinct (id_a, id_b, hamming), id_a <
    id_b. ``max_hamming`` must stay below n_bands (the recall bound:
    n_bands differing bits can spread one per band) and ``bits`` must
    split evenly into bands — both rejected loudly instead of
    returning silently incomplete pairs."""
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} does not split into {n_bands} equal bands")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the {n_bands}-band recall "
            f"bound: candidates are only guaranteed complete for hamming < "
            f"{n_bands} (pigeonhole)"
        )
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    # r14 (guide §1.2 step 1): the caller's fingerprint frame feeds
    # BOTH self-join sides — a mapInPandas decode+hash pass for the
    # multimodal rows, the simhash signature pass for the simhash rows
    # — so unmaterialized it ran twice. One eager localCheckpoint
    # (same argument as simhash64_pairs: single evaluation, the leaf's
    # size estimate keeps the banded-join strategy data-driven;
    # measured 6.9 → 4.2 s on dedup_simhash_hamming).

    sig = sig.localCheckpoint(eager=True)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col(hash_col), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h"), F.explode(bands).alias("b")
    ).select("id", "h", "b.band_id", "b.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide exact duplicate-LINE removal (the RefinedWeb /
    CCNet line-dedup stage, public: Penedo et al. 2306.01116 drop
    every repeated line before document-level passes — boilerplate
    headers/footers repeat across pages and poison doc-level minhash
    by making unrelated pages look similar, so STAGE ORDER matters:
    line dedup runs FIRST, then exact/near doc dedup on the cleaned
    text). Lines are ``\\n``-delimited; the FIRST occurrence
    corpus-wide (smallest (id, line_no)) survives, later occurrences
    are dropped; lines shorter than ``min_line_chars`` (default:
    empty lines only) are never deduped — removing the nth blank line
    corpus-wide would mangle formatting, not boilerplate. Returns one
    row per doc: n_lines, n_kept, and kept_text (surviving lines
    re-joined in original order).

    Scale: corpus-linear — explode lines, ONE hash-agg on the md5
    digest (never the line text itself: the shuffle ships 16-byte
    keys, not boilerplate strings), an equi-join back on the digest,
    one per-doc re-assembly agg. No all-pairs anything; skewed
    boilerplate (the same cookie banner a billion times) lands on one
    digest key whose group is reduced by the min() agg, not
    materialized."""
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_line_no", "_line"),
    ).withColumn("_dig", F.md5(F.col("_line")))
    firsts = (
        lines.filter(F.length("_line") >= min_line_chars)
        .groupBy("_dig")
        .agg(F.min(F.struct("_id", "_line_no")).alias("_first"))
    )
    kept = (
        lines.join(firsts, "_dig", "left")
        .withColumn(
            "_keep",
            (F.length("_line") < min_line_chars)
            | (
                (F.col("_id") == F.col("_first._id"))
                & (F.col("_line_no") == F.col("_first._line_no"))
            ),
        )
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_line_no", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("kept_text"),
        )
        .select(
            F.col("_id").alias(id_col), "n_lines", "n_kept", "kept_text"
        )
    )


def dedup_lines_append(
    base_docs: DataFrame | None,
    delta_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_chars: int = 1,
    base_digs: DataFrame | None = None,
) -> DataFrame:
    """Incremental line dedup: clean a DELTA batch against an already-
    ingested base corpus without re-deduping the base (the
    minhash_lsh_append / ivf_mips_append symmetry at the line level —
    a continuous crawl dedups each day's batch against yesterday's
    line index, never re-reads the corpus). Ingest contract: every
    delta id sorts AFTER every base id (batches arrive in id order),
    so first-occurrence survivorship is PREFIX-STABLE — appending can
    never change a base doc's outcome, and a delta line survives iff
    its digest is absent from the base AND it is the first occurrence
    within the delta. Exact invariant (it IS the registered oracle):
    append(base, delta) == dedup_lines(base ∪ delta) restricted to
    delta docs. Returns the per-delta-doc summary (n_lines, n_kept,
    kept_text).

    Scale: the base contributes ONE distinct-digest projection — at
    100 TB that digest set is the durable line index you maintain as
    a bucketed table, so per-batch cost is |delta| explode + one
    digest anti-probe + one |delta| agg, independent of base size.
    Lines under ``min_line_chars`` are exempt exactly as in
    dedup_lines.

    ``base_digs``: pass the MAINTAINED digest index directly (one
    ``_dig`` column; duplicates tolerated — it is distinct'd here) and
    skip the base re-explode entirely — the streaming ingest leg
    (stream_exec_lines_append) reads yesterday's index instead of
    re-deriving it from base text per batch. Exactly one of
    base_docs / base_digs must be provided."""
    if (base_docs is None) == (base_digs is None):
        raise ValueError("pass exactly one of base_docs / base_digs")
    if base_digs is None:
        base_digs = (
            base_docs.select(
                F.explode(F.split(F.col(text_col), "\n")).alias("_line")
            )
            .filter(F.length("_line") >= min_line_chars)
            .select(F.md5("_line").alias("_dig"))
        )
    base_digs = (
        base_digs.select("_dig").distinct().withColumn("_in_base", F.lit(True))
    )
    lines = delta_docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_line_no", "_line"),
    ).withColumn("_dig", F.md5(F.col("_line")))
    delta_firsts = (
        lines.filter(F.length("_line") >= min_line_chars)
        .groupBy("_dig")
        .agg(F.min(F.struct("_id", "_line_no")).alias("_first"))
    )
    kept = (
        lines.join(delta_firsts, "_dig", "left")
        .join(base_digs, "_dig", "left")
        .withColumn(
            "_keep",
            (F.length("_line") < min_line_chars)
            | (
                F.col("_in_base").isNull()
                & (F.col("_id") == F.col("_first._id"))
                & (F.col("_line_no") == F.col("_first._line_no"))
            ),
        )
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_line_no", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("kept_text"),
        )
        .select(F.col("_id").alias(id_col), "n_lines", "n_kept", "kept_text")
    )


def _check_band_geometry(bits: int, n_bands: int, max_hamming: int) -> None:
    if bits % n_bands != 0:
        raise ValueError(f"bits={bits} does not split into {n_bands} equal bands")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the {n_bands}-band recall "
            f"bound: candidates are only guaranteed complete for hamming < "
            f"{n_bands} (pigeonhole)"
        )


def band_fingerprints(
    sig: DataFrame,
    bits: int,
    n_bands: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "sig",
) -> DataFrame:
    """The banding projection of a single-BIGINT fingerprint frame —
    (id, h, band_id, band_val), n_bands rows per fingerprint. Factored
    out of hamming_pairs_append (r13, VERDICT r12 #5) so the DURABLE
    index of an incremental dedup can be stored PRE-BANDED (partitioned
    by band) instead of being re-banded from (id, hash) rows on every
    arriving batch."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col(hash_col), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h"),
        F.explode(bands).alias("b"),
    ).select("id", "h", "b.band_id", "b.band_val")


def hamming_pairs_probe(
    banded_base: DataFrame,
    delta_sig: DataFrame,
    bits: int,
    n_bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "sig",
) -> DataFrame:
    """hamming_pairs_append against an ALREADY-BANDED base index
    (columns id, h, band_id, band_val — band_fingerprints' shape):
    the arriving delta is banded once and probes banded_base ∪
    banded(delta). Value-identical to hamming_pairs_append when
    banded_base == band_fingerprints(base) — banding is row-wise, so
    banding the union equals unioning the banded sides — but the
    caller may hand a base PRE-PRUNED to the delta's touched (band_id,
    band_val) buckets: any base band row outside the delta's bucket
    set can never satisfy the band equi-join, so pruning is lossless
    (pinned in tests) and per-batch cost becomes ∝ |delta| × bucket
    occupancy with the base contributing only the PRUNED partitions of
    a durable pre-banded store, not a full re-band projection."""
    _check_band_geometry(bits, n_bands, max_hamming)
    delta_banded = band_fingerprints(delta_sig, bits, n_bands, id_col, hash_col)
    a = banded_base.select("id", "h", "band_id", "band_val").unionByName(
        delta_banded
    ).alias("a")
    b = delta_banded.alias("b")
    ham = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


def hamming_pairs_append(
    base_sig: DataFrame,
    delta_sig: DataFrame,
    bits: int,
    n_bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    hash_col: str = "sig",
) -> DataFrame:
    """Incremental leg of hamming_pairs: the near-dup pairs INVOLVING
    a fingerprint delta, without re-joining base×base (the
    minhash_lsh_append shape for single-BIGINT perceptual hashes).
    The arriving side probes the union's bands, pairs are normalized
    to (least, greatest) and deduped — so replaying a corpus in ANY
    batch order emits every pair exactly once, in the batch where its
    LATER-ARRIVING member lands (a pair needs both members present,
    and the earlier member is never on the probe side again).
    Per-batch cost ∝ |delta| × bucket occupancy; the base contributes
    one banding projection of its (id, hash) index — 16-byte rows,
    not payloads (store the index pre-banded and probe through
    hamming_pairs_probe to drop even that — VERDICT r12 #5)."""
    _check_band_geometry(bits, n_bands, max_hamming)
    return hamming_pairs_probe(
        band_fingerprints(base_sig, bits, n_bands, id_col, hash_col),
        delta_sig,
        bits,
        n_bands,
        max_hamming,
        id_col,
        hash_col,
    )


def dedup_lines_near(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    jaccard_num: int = 1,
    jaccard_den: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """FUZZY line/paragraph dedup (VERDICT r12 #3 — the near-dup
    extension of dedup_lines): a line is dropped when an EARLIER line
    (by first corpus occurrence) is near-identical — shingle-set
    Jaccard >= jaccard_num/jaccard_den — not only when it repeats
    byte-for-byte, which is how the public RefinedWeb/CCNet stack
    treats lightly-mutated boilerplate (cookie banners with a site
    name spliced in, dateline variants of the same header).

    STAGE ORDER (the dedup_lines discipline, Penedo 2306.01116): line
    dedup — exact AND near — runs BEFORE document-level passes,
    because shared boilerplate makes unrelated pages minhash-similar;
    this operator subsumes dedup_lines (an exact repeat has Jaccard 1)
    while staying corpus-linear.

    Plan shape, stage by stage:
      1. explode lines once; collapse exact copies onto their md5
         digest FIRST (one 16-byte-key hash agg — a billion-fold
         boilerplate line reduces to ONE representative before any
         fuzzy work, so the LSH stage is quadratic-proof against
         exact skew);
      2. per DISTINCT line: shingle set + minhash signature (row-
         linear, the doc-level minhash_signature machinery);
      3. banded LSH equi-join among distinct lines (num_hashes 1-row
         bands — candidates share >= 1 minhash, cost Σ|bucket|², never
         n_distinct²), verified by the EXACT cross-multiplied Jaccard
         den·|A∩B| >= num·(|A|+|B|-|A∩B|) — integers only, no float
         ratio;
      4. survivorship is GREEDY and transitive-closure-free (the
         RefinedWeb contract: drop a repeated line, don't cluster
         them): a distinct line is near-dropped iff ANY earlier-first
         distinct line verifies, whether or not that line was itself
         dropped — the decision is local, deterministic, and
         batch-order-independent;
      5. physical keep rule: empty/short lines always survive
         (formatting, not boilerplate); otherwise keep = first
         occurrence of its digest AND digest not near-dropped; per-doc
         reassembly in original line order (sorted-struct collect).

    Lines with fewer than shingle_n tokens have an empty shingle set
    and are exempt from the FUZZY stage (no signature — they still
    exact-dedup): sub-shingle fragments share almost all their n-grams
    with anything, so near-matching them is noise, not boilerplate.

    r14 (guide §1.2 step 1): three checkpoint boundaries — `lines`
    (feeds the digest agg AND the keep join: the corpus explode ran
    twice), `distinct` (feeds the signature build and the keep join:
    the 16-byte-digest shuffle ran three times), and `sig` (both
    aliases of the banded self-join re-ran the per-distinct-line
    shingle+minhash pass). localCheckpoint throughout: all three are
    corpus-shaped, and a statistics-less leaf keeps them out of
    broadcast plans — the only plan that survives at 100 TB."""

    lines = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_line_no", "_line"),
        )
        .withColumn("_dig", F.md5(F.col("_line")))
        .localCheckpoint(eager=True)
    )
    distinct = (
        lines.filter(F.length("_line") >= min_line_chars)
        .groupBy("_dig")
        .agg(
            F.min(F.struct("_id", "_line_no")).alias("_first"),
            # every row in a digest group carries the identical text;
            # min() picks it deterministically and the partial (map-
            # side) agg collapses copies before the string ships
            F.min("_line").alias("_rep"),
        )
        .localCheckpoint(eager=True)
    )
    sig = (
        distinct.select(
            "_dig",
            "_first",
            shingle_set(F.col("_rep"), shingle_n).alias("_sh"),
        )
        .withColumn("_nsh", F.size("_sh"))
        .filter(F.col("_nsh") >= 1)
        .withColumn("_sig", minhash_signature(F.col("_sh"), num_hashes))
        .localCheckpoint(eager=True)
    )
    bands = sig.select(
        "_dig", "_first", "_sh", "_nsh", F.posexplode("_sig").alias("_band", "_bv")
    )
    a, b = bands.alias("a"), bands.alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.col("a._nsh") + F.col("b._nsh") - inter
    dropped = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bv") == F.col("b._bv"))
            # strict struct order: distinct digests never share a
            # physical (id, line_no), so this also excludes self-pairs
            & (F.col("a._first") < F.col("b._first")),
        )
        .filter(inter * F.lit(jaccard_den) >= union * F.lit(jaccard_num))
        .select(F.col("b._dig").alias("_dig"))
        .distinct()
        .withColumn("_near_dropped", F.lit(True))
    )
    kept = (
        lines.join(distinct.select("_dig", "_first"), "_dig", "left")
        .join(dropped, "_dig", "left")
        .withColumn(
            "_keep",
            (F.length("_line") < min_line_chars)
            | (
                F.col("_near_dropped").isNull()
                & (F.col("_id") == F.col("_first._id"))
                & (F.col("_line_no") == F.col("_first._line_no"))
            ),
        )
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_line_no", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("kept_text"),
        )
        .select(F.col("_id").alias(id_col), "n_lines", "n_kept", "kept_text")
    )


def line_near_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    min_line_chars: int = 1,
) -> DataFrame:
    """The DURABLE fuzzy-line-dedup index frame: one row per eligible
    DISTINCT line — (_dig, _first struct, _sh shingle set, _nsh, _sig
    minhash array; _sig is NULL for sub-shingle lines, which still
    exact-dedup but are exempt from the fuzzy stage). This is what a
    continuous ingest persists between batches (16-byte digest + 8
    bigint hashes + one bounded shingle set per distinct line, never
    corpus text) and what dedup_lines_near_append(base_index=...)
    probes."""
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_line_no", "_line"),
    ).withColumn("_dig", F.md5(F.col("_line")))
    distinct = (
        lines.filter(F.length("_line") >= min_line_chars)
        .groupBy("_dig")
        .agg(
            F.min(F.struct("_id", "_line_no")).alias("_first"),
            F.min("_line").alias("_rep"),
        )
    )
    return (
        distinct.select(
            "_dig", "_first", shingle_set(F.col("_rep"), shingle_n).alias("_sh")
        )
        .withColumn("_nsh", F.size("_sh"))
        .withColumn(
            "_sig",
            F.when(
                F.col("_nsh") >= 1, minhash_signature(F.col("_sh"), num_hashes)
            ),
        )
    )


def dedup_lines_near_append(
    base_docs: DataFrame | None,
    delta_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 8,
    jaccard_num: int = 1,
    jaccard_den: int = 2,
    min_line_chars: int = 1,
    base_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental FUZZY line dedup: clean a delta batch against an
    already-ingested base with dedup_lines_near's semantics and no
    base re-dedup (the dedup_lines_append symmetry for the near-dup
    stage). PREFIX-STABILITY is exactly why dedup_lines_near's
    survivorship is greedy and transitive-closure-free: a line's
    outcome depends only on EARLIER lines, so under the ingest
    contract (every delta id sorts after every base id) appending can
    never change a base line's outcome and
    append(base, delta) == dedup_lines_near(base ∪ delta)|delta —
    the invariant the registered oracle re-proves on every run. A
    clustered survivorship would NOT be prefix-stable (a late arrival
    can merge two base clusters), which would force base re-dedup per
    batch — the scale anti-pattern.

    Per-batch cost: explode |delta| lines, one digest agg, signatures
    for the delta's NEW distinct lines only (base-digest repeats drop
    by the exact rule before any fuzzy work), banded probe of the
    base's distinct-line signature index (durable at 100 TB — 8
    bigint minhashes + one shingle set per distinct line, never the
    corpus text), one |delta| reassembly agg.

    ``base_index``: pass the MAINTAINED line_near_index frame directly
    and skip the base re-derivation entirely — the streaming leg
    (stream_exec_lines_near_append) reads yesterday's index instead of
    re-exploding base text per batch. Exactly one of base_docs /
    base_index must be provided."""
    if (base_docs is None) == (base_index is None):
        raise ValueError("pass exactly one of base_docs / base_index")

    if base_index is None:
        # r14 (guide §1.2 step 1): the derived index feeds base_sigs
        # AND base_digs — without a boundary the whole base explode +
        # digest agg + shingle/sig pass ran twice. Only the
        # derived-from-docs path checkpoints: a caller-passed base_index
        # (the streaming leg's parquet-backed durable index) is
        # already materialized.
        base_index = line_near_index(
            base_docs, id_col, text_col, shingle_n, num_hashes, min_line_chars
        ).localCheckpoint(eager=True)
    base_sigs = base_index.filter(F.col("_nsh") >= 1).select(
        "_dig", "_first", "_sh", "_nsh", "_sig"
    )
    base_digs = (
        base_index.select("_dig").distinct().withColumn("_in_base", F.lit(True))
    )

    # r14: |delta|-bounded boundaries — delta_lines feeds the digest
    # agg and the keep join, delta_sigs both sides of the banded
    # probe; each re-ran the delta explode/shingle pass otherwise.
    # Per-streaming-batch cost is one localCheckpoint of a
    # |delta|-bound frame each, in exchange for halving the per-batch
    # recompute.
    delta_lines = (
        delta_docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_line_no", "_line"),
        )
        .withColumn("_dig", F.md5(F.col("_line")))
        .localCheckpoint(eager=True)
    )
    delta_firsts = (
        delta_lines.filter(F.length("_line") >= min_line_chars)
        .groupBy("_dig")
        .agg(
            F.min(F.struct("_id", "_line_no")).alias("_first"),
            F.min("_line").alias("_rep"),
        )
    )
    # fuzzy work only for digests the base has never seen — an exact
    # base repeat already drops below, cheaper than any signature
    delta_new = delta_firsts.join(base_digs, "_dig", "left_anti")
    delta_sigs = (
        delta_new.select(
            "_dig", "_first", shingle_set(F.col("_rep"), shingle_n).alias("_sh")
        )
        .withColumn("_nsh", F.size("_sh"))
        .filter(F.col("_nsh") >= 1)
        .withColumn("_sig", minhash_signature(F.col("_sh"), num_hashes))
        .localCheckpoint(eager=True)
    )

    def banded(df: DataFrame) -> DataFrame:
        return df.select(
            "_dig", "_first", "_sh", "_nsh",
            F.posexplode("_sig").alias("_band", "_bv"),
        )

    a = banded(base_sigs.unionByName(delta_sigs)).alias("a")
    b = banded(delta_sigs).alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.col("a._nsh") + F.col("b._nsh") - inter
    dropped = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bv") == F.col("b._bv"))
            & (F.col("a._first") < F.col("b._first")),
        )
        .filter(inter * F.lit(jaccard_den) >= union * F.lit(jaccard_num))
        .select(F.col("b._dig").alias("_dig"))
        .distinct()
        .withColumn("_near_dropped", F.lit(True))
    )
    kept = (
        delta_lines.join(delta_firsts.select("_dig", "_first"), "_dig", "left")
        .join(base_digs, "_dig", "left")
        .join(dropped, "_dig", "left")
        .withColumn(
            "_keep",
            (F.length("_line") < min_line_chars)
            | (
                F.col("_in_base").isNull()
                & F.col("_near_dropped").isNull()
                & (F.col("_id") == F.col("_first._id"))
                & (F.col("_line_no") == F.col("_first._line_no"))
            ),
        )
    )
    return (
        kept.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct("_line_no", "_line"))
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("kept_text"),
        )
        .select(F.col("_id").alias(id_col), "n_lines", "n_kept", "kept_text")
    )
