"""End-to-end pretraining-corpus pipeline over ARBITRARY document
DataFrames.

The single implementation of the curation chain. The two registered
`pipeline_pretrain_corpus*` rows (fairy_spark/queries/llm.py) are each
one call to ``pretrain_corpus`` over the testdata `documents` table
with the doc_id%97 benchmark stand-in as the probe set; the operator
itself takes any (id, text) DataFrame and an optional caller probe
set, so a user runs the proven chain on their own corpus —
Engine.pretrain_corpus is the API handle.

Stages (each individually registered + oracle-proven; the registered
composed rows prove the composition):

  1. Gopher quality rules (Rae et al. 2021 §A1.1)
  2. exact dedup — lowest id per distinct text
  3. minhash-LSH near-dup clustering + longest-survivor selection
  4. 8-gram decontamination against the probe set (broadcast semi-join)
  5. greedy token packing into ~bin_tokens bins (sharded prefix sum —
     no SinglePartition window)
  6. deterministic hash train/valid/test split (pure function of id)

Scale shape: stages 1-2 are one codegen scan + one hash agg; stage 3
is the banded equi-join + bounded-round label propagation (geometry
caller-set — (8,1) small-corpus default, (16,2) measured production);
stage 4 is a gram-key semi-join (broadcast for benchmark-sized probe
sets, shuffled for giant ones — size-based by default); stage 5 shards
the prefix sum; stage 6 is a narrow map. No cartesian products, no
single-partition windows (asserted registry-wide in tests/test_plans.py
through the registered query). The stage-3 output is cut with one
eager ``localCheckpoint``: stages 4-6 read it from the block manager
instead of re-deriving the dedup prefix per action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fairy_spark.operators.text import (
    EN_STOPWORDS,
    mean_token_len,
    portable_hash64,
    tokenize,
    word_ngrams,
)


def gopher_keep_col(text_col: str = "text"):
    """The Gopher rule-pack keep predicate as a single boolean Column
    (word-count band, mean-word-length band, alphabetic-ratio floor,
    stopword floor) — shared by the filter stage and the per-source
    report so both grade documents with the IDENTICAL expression."""
    toks = tokenize(F.col(text_col))
    n_words = F.size(toks)
    alpha_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("double") / n_words
    )
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return (
        n_words.between(30, 10000)
        & mean_token_len(toks).between(3, 10)
        & (alpha_ratio >= 0.8)
        & (stop_hits >= 2)
    )


def source_report(docs: DataFrame, source_col: str = "source", text_col: str = "text") -> DataFrame:
    """Per-source curation report card: n_docs, Gopher keep rate (the
    IDENTICAL gopher_keep_col predicate the filter stage applies),
    exact-duplicate incidence (sha2 digest seen more than once
    corpus-wide), token volume and mean — exact integer ppm. ONE
    corpus scan → one digest-keyed hash agg + join back → one
    per-source agg; never doc pairs. Registered + oracle-checked as
    `pipeline_source_report`."""
    from fairy_spark.operators.text import tokenize as _tok

    d = docs.select(
        F.col(source_col).alias("source"),
        F.sha2(F.col(text_col), 256).alias("dig"),
        F.size(_tok(F.col(text_col))).alias("n_words"),
        gopher_keep_col(text_col).cast("int").alias("keep"),
    )
    counts = d.groupBy("dig").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        d.join(counts, "dig")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("keep").cast("bigint").alias("_keeps"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("bigint").alias("_dups"),
            F.sum("n_words").cast("bigint").alias("total_tokens"),
        )
        .select(
            "source",
            "n_docs",
            F.expr("_keeps * 1000000L DIV n_docs").alias("gopher_keep_ppm"),
            F.expr("_dups * 1000000L DIV n_docs").alias("exact_dup_ppm"),
            "total_tokens",
            F.expr("total_tokens DIV n_docs").alias("mean_tokens"),
        )
        .orderBy("source")
    )


def gopher_quality_filter(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Rows of ``docs`` passing the Gopher rule pack (word-count band,
    mean-word-length band, alphabetic-ratio floor, stopword floor).
    Pure JVM higher-order functions — one codegen scan, no shuffle.
    The keep predicate is built inline (no temp columns), so caller
    frames with ANY column names pass through untouched — Catalyst
    common-subexpression-eliminates the repeated tokenize."""
    return docs.filter(gopher_keep_col(text_col))


def near_dup_removed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_col: str = "n_chars",
    threshold: float = 0.4,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 1,
) -> DataFrame:
    """Docs minus every near-dup cluster member except the survivor
    (longest ``length_col``, ties to smallest id) — dedup_components +
    dedup_survivors composed into the drop it exists for.

    ``(shingle_n, num_hashes, band_rows)`` is the LSH band geometry,
    passed straight to minhash_lsh_candidates. The (8, 1) default is
    the high-recall SMALL-CORPUS setting; at scale pass the measured
    production geometry ``num_hashes=16, band_rows=2`` (SCALE.md "band
    geometry at scale": 94% recall at 7% of the band1 candidate
    volume), which the registered `pipeline_pretrain_corpus_staged_scale`
    pins end-to-end against its oracle."""
    from fairy_spark.operators.components import connected_components
    from fairy_spark.operators.dedup import minhash_lsh_candidates

    pairs = minhash_lsh_candidates(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        band_rows=band_rows,
    ).filter(F.col("jaccard") >= threshold)
    cc = connected_components(pairs)
    members = cc.join(
        docs.select(F.col(id_col).alias("node"), F.col(length_col).alias("_len")),
        "node",
    )
    order_key = F.struct((-F.col("_len")).alias("a"), F.col("node").alias("b"))
    survivors = members.groupBy("comp").agg(
        F.min_by("node", order_key).alias("survivor_id")
    )
    removed = (
        members.join(survivors, "comp")
        .filter(F.col("node") != F.col("survivor_id"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(removed, id_col, "left_anti")


def gopher_repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc Gopher repetition statistics (Rae et al. 2112.11446
    Table A1, the character-occupancy half): (id, top2_char_frac,
    dup5_char_frac, keep) where top2_char_frac is the fraction of
    lowercased characters covered by the most char-covering word
    2-gram (a deterministic coverage MAX — no most-frequent tie-break
    needed), dup5_char_frac the fraction covered by word 5-grams
    occurring more than once (count·len occupancy), and keep the
    Table A1 ≤0.20 / ≤0.15 verdict. Plan: one gram explode per n, two
    hash aggs, one id-keyed join — corpus-linear, no window. The
    registered `text_gopher_repetition` pins this exact computation
    against its DuckDB oracle at three scales."""
    from fairy_spark.operators.text import tokenize, word_ngrams

    t = docs.select(
        F.col(id_col).alias("_id"),
        F.length(F.lower(F.col(text_col))).alias("_n_chars_lc"),
        tokenize(F.col(text_col)).alias("_toks"),
    )

    def gram_counts(n: int) -> DataFrame:
        return (
            t.select(
                "_id", "_n_chars_lc", F.explode(word_ngrams(F.col("_toks"), n)).alias("gram")
            )
            .groupBy("_id", "_n_chars_lc", "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    c2 = (
        gram_counts(2)
        .groupBy("_id", "_n_chars_lc")
        .agg(F.max(F.col("cnt") * F.length("gram")).cast("bigint").alias("_top2_chars"))
    )
    c5 = (
        gram_counts(5)
        .groupBy("_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("_dup5_chars")
        )
    )
    top2 = F.col("_top2_chars").cast("double") / F.col("_n_chars_lc")
    dup5 = (
        F.coalesce(F.col("_dup5_chars"), F.lit(0)).cast("double") / F.col("_n_chars_lc")
    )
    return (
        c2.join(c5, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.round(top2, 6).alias("top2_char_frac"),
            F.round(dup5, 6).alias("dup5_char_frac"),
            ((top2 <= 0.20) & (dup5 <= 0.15)).alias("keep"),
        )
    )


BROADCAST_PROBE_DOCS_MAX = 100_000


def decontaminate(
    docs: DataFrame,
    probe_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 8,
    broadcast: bool | None = None,
) -> DataFrame:
    """Drop every doc sharing any word ``gram_n``-gram with the probe
    set.

    ``broadcast``: True forces the probe-gram side to broadcast (right
    for benchmark-sized probe sets — kilo-docs); False leaves the
    gram-key equi-join to Catalyst, which shuffles it (right when the
    probe set is every eval benchmark concatenated and its gram table
    exceeds executor memory); None (default) decides by probe size —
    one cheap count of ``probe_docs`` rows, broadcast iff <=
    ``BROADCAST_PROBE_DOCS_MAX`` (doc count is the proxy: grams/doc is
    bounded by doc length, and the gram table of 100k docs is
    hundreds of MB — past the comfortable broadcast envelope)."""
    if broadcast is None:
        broadcast = probe_docs.count() <= BROADCAST_PROBE_DOCS_MAX
    probe_grams = probe_docs.select(
        F.explode(word_ngrams(tokenize(F.col(text_col)), gram_n)).alias("gram")
    ).distinct()
    if broadcast:
        probe_grams = F.broadcast(probe_grams)
    grams = docs.select(
        id_col, F.explode(word_ngrams(tokenize(F.col(text_col)), gram_n)).alias("gram")
    )
    contaminated = (
        grams.join(probe_grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def _cleaned_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    length_col: str,
    near_dup_threshold: float,
    shingle_n: int,
    num_hashes: int,
    band_rows: int,
) -> DataFrame:
    """Stages 1-3 (quality -> exact dedup -> near-dup survivors); its
    output is the natural checkpoint boundary (everything after is a narrow chain over the
    surviving rows only)."""

    q1 = gopher_quality_filter(docs, id_col, text_col)
    canonical = (
        q1.withColumn("_h", F.sha2(F.col(text_col), 256))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    # r14: materialize the exact-dedup output once — it feeds three
    # branches of the near-dup stage (signature build, survivor-length
    # join, final anti-join), each of which re-ran the Gopher tokenize
    # scan + sha2 agg without this boundary (guide §1.2 step 1).
    q2 = q1.join(canonical, id_col, "left_semi").localCheckpoint(eager=True)
    return near_dup_removed(
        q2,
        id_col,
        text_col,
        length_col,
        near_dup_threshold,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        band_rows=band_rows,
    )


def _pack_and_split(
    q4: DataFrame, id_col: str, text_col: str, bin_tokens: int
) -> DataFrame:
    """Stages 5-6: token packing + deterministic hash split over the
    decontaminated survivors."""
    from fairy_spark.operators.packing import pack_into_bins

    # r14: checkpoint the slim (id, n_tokens) frame — pack_into_bins
    # evaluates its input three times (bounds agg, shard subtotals,
    # final windowed plan); without this each pass re-ran the whole
    # decontamination suffix (guide §2.3 — decide on a lightweight
    # proxy, never re-derive the heavy lineage per pass).
    t = q4.select(
        id_col, F.size(tokenize(F.col(text_col))).alias("n_tokens")
    ).localCheckpoint(eager=True)
    packed = pack_into_bins(t, id_col, "n_tokens", bin_tokens=bin_tokens)
    bucket = (
        portable_hash64(F.col(id_col).cast("string"), seed="split") % 100
    ).alias("bucket")
    out = packed.select(id_col, "n_tokens", "bin_id", bucket)
    split = (
        F.when(F.col("bucket") < 80, F.lit("train"))
        .when(F.col("bucket") < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return out.select(id_col, "n_tokens", "bin_id", "bucket", split.alias("split"))


def pretrain_corpus(
    docs: DataFrame,
    probe_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_col: str = "n_chars",
    bin_tokens: int = 512,
    near_dup_threshold: float = 0.4,
    shingle_n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 1,
    decontaminate_broadcast: bool | None = None,
) -> DataFrame:
    """The full chain: quality -> exact dedup -> near-dup survivors ->
    decontaminate (skipped when ``probe_docs`` is None) -> pack ->
    split. Returns (id, n_tokens, bin_id, bucket, split).

    ``(shingle_n, num_hashes, band_rows)`` is the near-dup LSH
    geometry (see near_dup_removed — pass (3, 16, 2) at scale);
    ``decontaminate_broadcast`` is decontaminate's broadcast switch
    (None = size-based; the registered rows pin True, Engine uses
    None).

    Stage 3's output (the cleaned corpus) is the one boundary: an
    eager ``localCheckpoint``, because decontaminate reads it twice
    (gram explode + anti-join) and the packing passes would re-derive
    the whole dedup prefix per action otherwise. Nothing restarts
    from it, so it need not be durable."""

    q3 = _cleaned_corpus(
        docs,
        id_col,
        text_col,
        length_col,
        near_dup_threshold,
        shingle_n,
        num_hashes,
        band_rows,
    ).localCheckpoint(eager=True)
    q4 = (
        q3
        if probe_docs is None
        else decontaminate(
            q3, probe_docs, id_col, text_col, broadcast=decontaminate_broadcast
        )
    )
    return _pack_and_split(q4, id_col, text_col, bin_tokens)
