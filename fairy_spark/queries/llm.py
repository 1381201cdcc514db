"""LLM-data-pipeline queries (north star; SURVEY.md §2.B LLM ops) over
the documents/embeddings tables: text stats, language-ID heuristic,
token counting, fingerprinting, TF, n-grams, exact + minhash-LSH +
simhash + n-gram-Jaccard dedup, cosine top-k similarity search.

Oracle discipline: every hash is the portable md5-hex hash
(operators/text.py) and every float fold is an explicit left fold, so
DuckDB reproduces results bit-for-bit. The Spark side runs the banded
/ blocked scale plans; the oracle runs the O(n²) declarative
formulation — same semantics, different physical strategy (that's the
point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from fairy_spark.operators.dedup import (
    exact_dedup_stats,
    hamming_pairs,
    minhash_lsh_candidates,
    simhash,
    simhash64,
)
from fairy_spark.operators.similarity import brute_force_topk, cosine
from fairy_spark.operators.text import (
    EN_STOPWORDS,
    mean_token_len,
    minhash_sql,
    portable_hash64,
    portable_hash_sql,
    rolling_fingerprint,
    shingle_set,
    stopword_ratio,
    tokenize,
    word_ngrams,
)
from fairy_spark.queries import register
from fairy_spark.sources.tables import load_table
from fairy_spark.operators.pool import park_persisted
from fairy_spark.operators.pipeline import gopher_keep_col, pretrain_corpus

# DuckDB fragments mirroring operators/text.py
_TOKS_SQL = "string_split_regex(lower(text), '\\s+')"
_SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks)-2, 0)),"
    " i -> array_to_string(toks[i:i+2], ' ')))"
)
_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


@register(
    "text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, text, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS len_chars,
           CAST(n_chars = LENGTH(text) AS BOOLEAN) AS n_chars_ok,
           CAST(LEN(toks) AS INTEGER) AS n_words,
           ROUND(list_reduce(list_prepend(0.0, list_transform(toks, x -> CAST(LENGTH(x) AS DOUBLE))), (a,b) -> a+b)
                 / LEN(toks), 6) AS mean_tok_len,
           ROUND(CAST(LEN(list_intersect(list_distinct(toks), {_STOPWORDS_SQL})) AS DOUBLE) / LEN(toks), 6) AS stop_ratio
    FROM t
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "n_chars", "text", tokenize(F.col("text")).alias("toks"))
    return (
        t.select(
            "doc_id",
            F.length("text").cast("bigint").alias("len_chars"),
            (F.col("n_chars") == F.length("text")).alias("n_chars_ok"),
            F.size("toks").alias("n_words"),
            F.round(mean_token_len(F.col("toks")), 6).alias("mean_tok_len"),
            F.round(stopword_ratio(F.col("toks")), 6).alias("stop_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(string_split_regex(lower(text), '\\s+')) AS INTEGER) AS ws_tokens,
           CAST(LEN(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS bpeish_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letters runs,
    digit runs, single punctuation — the standard pre-tokenizer shape)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.size(F.split(F.lower("text"), r"\s+")).alias("ws_tokens"),
            F.regexp_count(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
            .cast("int")
            .alias("bpeish_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN CAST(LEN(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE) / LEN(toks) > 0.03
                THEN 'en' ELSE 'unk' END AS detected_lang
    FROM t
    ORDER BY doc_id
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language heuristic. The corpus is synthetic
    word salad, so the contract is determinism of the classifier, not
    agreement with the (random) `lang` label — both engines compute the
    identical function; `labeled_lang` is carried for inspection."""
    d = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    t = d.select("doc_id", F.col("lang").alias("labeled_lang"), tokenize(F.col("text")).alias("toks"))
    density = (
        F.size(F.filter("toks", lambda x: F.array_contains(sw, x))).cast("double")
        / F.size("toks")
    )
    return (
        t.select(
            "doc_id",
            "labeled_lang",
            F.when(density > 0.03, "en").otherwise("unk").alias("detected_lang"),
        )
        .orderBy("doc_id")
    )


def _lang_profile_sql() -> str:
    from fairy_spark.operators.text import LANG_STOPWORDS

    hits = ",\n           ".join(
        f"CAST(LEN(list_filter(toks, x -> list_contains("
        + "[" + ", ".join(f"'{w}'" for w in ws) + "]"
        + f", x))) AS BIGINT) AS hits_{lang}"
        for lang, ws in sorted(LANG_STOPWORDS.items())
    )
    return f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
    h AS (
      SELECT doc_id, lang AS labeled_lang, LEN(toks) AS n_tokens,
           {hits}
      FROM t
    ), p AS (
      SELECT *, GREATEST(hits_de, hits_en, hits_es, hits_fr) AS mx FROM h
    )
    SELECT doc_id, labeled_lang, n_tokens, hits_de, hits_en, hits_es, hits_fr,
           CASE WHEN mx = 0 THEN 'unk'
                WHEN hits_de = mx THEN 'de'
                WHEN hits_en = mx THEN 'en'
                WHEN hits_es = mx THEN 'es'
                ELSE 'fr' END AS pred_lang,
           CASE WHEN n_tokens > 0 THEN mx * 1000000 // n_tokens ELSE 0 END AS conf_ppm
    FROM p
    ORDER BY doc_id
    """


@register("text_langid_profile", oracle=_lang_profile_sql())
def text_langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-PROFILE language identification (Grefenstette 1995's
    stopword-frequency scheme — the classic pre-fastText heuristic a
    CCNet-style curation pipeline slots in before model-based LID;
    public): score every document against per-language top-10
    function-word profiles (operators/text.LANG_STOPWORDS: de/en/es/fr,
    with their real cross-language overlaps) and predict the argmax,
    alphabetical-first tie-break, 'unk' when no profile hits at all.
    Emits the per-language hit counts, the prediction, and an exact
    integer confidence (winning hits per million tokens) — the score a
    mixture-weighting stage would threshold on.

    100 TB shape: pure per-row higher-order functions over the token
    array — four bounded isin-filters per doc, one codegen scan, zero
    shuffle, corpus-linear. The profiles are 10-word literals baked
    into the plan (the plane_weights discipline), so the classifier is
    bit-identical in any engine — the oracle mirrors the exact same
    profile algebra (VERDICT r10 breadth item 6a; honest on the sf1
    replica since r11's synth stopword stratum)."""
    from fairy_spark.operators.text import LANG_STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        tokenize(F.col("text")).alias("toks"),
    )
    hit_cols = [
        F.size(F.filter("toks", lambda x: x.isin(*ws)))
        .cast("bigint")
        .alias(f"hits_{lang}")
        for lang, ws in sorted(LANG_STOPWORDS.items())
    ]
    h = t.select(
        "doc_id", "labeled_lang", F.size("toks").cast("bigint").alias("n_tokens"), *hit_cols
    )
    mx = F.greatest("hits_de", "hits_en", "hits_es", "hits_fr")
    p = h.withColumn("mx", mx)
    return (
        p.select(
            "doc_id",
            "labeled_lang",
            "n_tokens",
            "hits_de",
            "hits_en",
            "hits_es",
            "hits_fr",
            F.when(F.col("mx") == 0, "unk")
            .when(F.col("hits_de") == F.col("mx"), "de")
            .when(F.col("hits_en") == F.col("mx"), "en")
            .when(F.col("hits_es") == F.col("mx"), "es")
            .otherwise("fr")
            .alias("pred_lang"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr("mx * 1000000L DIV n_tokens"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("conf_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, t -> {portable_hash_sql('t', 'fp')} % 65536)),
             (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
    FROM t
    ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", rolling_fingerprint(tokenize(F.col("text"))).alias("fingerprint"))
        .orderBy("doc_id")
    )


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - 3, 0)),
                            i -> array_to_string(toks[i:i+3], ' ')) AS grams
      FROM t
    ),
    h AS (
      SELECT doc_id, len(grams) AS n_grams,
             list_transform(grams, g -> {portable_hash_sql('g', 'win')}) AS hs
      FROM g
    ),
    s AS (
      SELECT doc_id, n_grams,
             CASE WHEN n_grams >= 4 THEN
                    list_distinct(list_transform(generate_series(1, n_grams - 3),
                                                 j -> list_aggregate(hs[j:j+3], 'min')))
                  WHEN n_grams > 0 THEN [list_aggregate(hs, 'min')]
                  ELSE CAST([] AS BIGINT[]) END AS fps
      FROM h
    ),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM s),
    c AS (SELECT fp, COUNT(*) AS nd FROM e GROUP BY fp),
    sh AS (
      SELECT e.doc_id, SUM(CASE WHEN c.nd > 1 THEN 1 ELSE 0 END) AS n_shared
      FROM e JOIN c USING (fp) GROUP BY e.doc_id
    )
    SELECT s.doc_id,
           CAST(n_grams AS INTEGER) AS n_grams,
           CAST(len(fps) AS INTEGER) AS n_fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_sort(fps), f -> f % 1000000000)),
             (a, b) -> (a * 131 + b) % 1000000007) AS fp_checksum,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared_fp
    FROM s LEFT JOIN sh ON s.doc_id = sh.doc_id
    ORDER BY s.doc_id
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken,
    SIGMOD 2003 — MOSS; public): per-doc LOCAL fingerprints = minimum
    gram hash of every 4-window over token 4-gram hashes, so any two
    docs sharing a >= 7-token run share a fingerprint — the
    shared-passage detector whole-doc prints can't express. Per doc:
    gram/fingerprint counts, an order-pinned checksum over the sorted
    distinct fingerprint set, and how many of its fingerprints appear
    in at least one OTHER document (n_shared_fp — the corpus overlap
    signal that feeds crawl dedup).

    100 TB shape: selection is per-row work (one md5 per gram, zero
    shuffle, ~2/(w+1) of grams kept); the corpus leg is one hash agg
    on the fingerprint key + a key join back — cost proportional to
    selected fingerprints, never doc pairs. Reference analog: fairy
    stores content under digest keys (common/src/kv_store/mod.rs
    short_hash); winnowing is that digest discipline applied to
    passages instead of whole blobs.

    r14 (guide §4.2 + §1.2 step 1): the per-doc selection runs in
    Arrow batches (_winnow_docs_arrow — the HOF expression tree
    re-inlined the md5 gram transform per zip_with layer and fell back
    to interpreted eval; noop-sink 43 s → ~2 s at sf0.1), and the
    per-doc frame is checkpointed once because it feeds THREE
    plan branches: the explode leg (twice — fp counts + the join back)
    and the final per-doc projection. Values byte-identical: the
    builder's identity argument is _py_winnow's docstring, pinned by
    tests/test_winnow_engines.py and this query's unchanged oracle."""
    from fairy_spark.operators.dedup import _winnow_docs_arrow

    d = load_table(spark, sf_dir, "documents")
    base = (
        _winnow_docs_arrow(d, "doc_id", "text", 4, 4)
        .localCheckpoint(eager=True)
        .withColumnRenamed("id", "doc_id")
    )
    e = base.select("doc_id", F.explode("fps").alias("fp"))
    counts = e.groupBy("fp").agg(F.count(F.lit(1)).alias("nd"))
    shared = (
        e.join(counts, "fp")
        .groupBy("doc_id")
        .agg(F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast("bigint").alias("n_shared_fp"))
    )
    return (
        base.drop("fps")
        .join(shared, "doc_id", "left")
        .withColumn("n_shared_fp", F.coalesce("n_shared_fp", F.lit(0).cast("bigint")))
        .orderBy("doc_id")
    )


@register(
    "dedup_winnow_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - 3, 0)),
                            i -> array_to_string(toks[i:i+3], ' ')) AS grams
      FROM t
    ),
    h AS (
      SELECT doc_id, len(grams) AS n_grams,
             list_transform(grams, g -> {portable_hash_sql('g', 'win')}) AS hs
      FROM g
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN n_grams >= 4 THEN
                    list_distinct(list_transform(generate_series(1, n_grams - 3),
                                                 j -> list_aggregate(hs[j:j+3], 'min')))
                  WHEN n_grams > 0 THEN [list_aggregate(hs, 'min')]
                  ELSE CAST([] AS BIGINT[]) END AS fps
      FROM h
    ),
    e AS (SELECT doc_id AS id, len(fps) AS n_fp, unnest(fps) AS fp FROM s),
    dfc AS (SELECT fp, COUNT(*) AS df FROM e GROUP BY fp),
    keep AS (
      SELECT id, n_fp, e.fp FROM e JOIN dfc USING (fp)
      WHERE df BETWEEN 2 AND 50
    ),
    p AS (
      SELECT a.id AS id, a.n_fp AS n_fp, b.id AS match_id, b.n_fp AS n_fp_b,
             COUNT(*) AS shared_fp
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.id <> b.id
      GROUP BY 1, 2, 3, 4
    ),
    sc AS (
      SELECT id, match_id, shared_fp, n_fp,
             shared_fp * 1000000 // least(n_fp, n_fp_b) AS score_ppm,
             ROW_NUMBER() OVER (PARTITION BY id
                                ORDER BY shared_fp DESC, match_id ASC) AS rn
      FROM p
    )
    SELECT id, match_id, CAST(shared_fp AS BIGINT) AS shared_fp,
           CAST(n_fp AS INTEGER) AS n_fp, CAST(score_ppm AS BIGINT) AS score_ppm
    FROM sc WHERE rn = 1
    ORDER BY id
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document best match by shared winnowing fingerprints — the
    MOSS report (Schleimer et al. 2003 §5): the passage-level dedup
    JOIN built on `text_winnow_fingerprint`'s selection. Fingerprints
    in >50 docs are dropped as boilerplate "stop fingerprints" (the
    frequency cap that bounds every bucket's self-join fan-out at
    max_df² — MOSS's own move for common idioms), <2 are unshareable;
    the rest equi-join on the fingerprint key, pair counts aggregate,
    and each doc keeps its best partner (most shared prints, ties to
    smallest id) with the containment-style score in exact ppm.

    100 TB shape: fp explode (0.39× grams, SCALE.md r10) → fp-count
    hash agg → capped fp self-join → pair hash agg → bounded per-doc
    top-1 window — cost ∝ Σ_fp min(df, 50)², never doc pairs; the cap
    is the knob that keeps a boilerplate-heavy crawl linear.
    Complements minhash (set overlap) and simhash (fingerprint
    distance): winnowing surfaces EMBEDDED PASSAGES — a doc quoting
    another at length matches here even when global similarity is
    low."""
    from fairy_spark.operators.dedup import winnow_best_match

    d = load_table(spark, sf_dir, "documents")
    return winnow_best_match(d, k=4, w=4, min_df=2, max_df=50).orderBy("id")


@register(
    "text_tf_top",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents)
    SELECT tok, COUNT(*) AS tf
    FROM t
    GROUP BY tok
    HAVING COUNT(*) >= 100
    ORDER BY tf DESC, tok
    """,
)
def text_tf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= 100)
        .orderBy(F.desc("tf"), F.asc("tok"))
    )


@register(
    "text_ngram_freq",
    oracle=f"""
    WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
                                       i -> array_to_string(toks[i:i+1], ' '))) AS bigram
          FROM t)
    SELECT bigram, COUNT(*) AS freq
    FROM g
    GROUP BY bigram
    HAVING COUNT(*) >= 8
    ORDER BY freq DESC, bigram
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fairy_spark.operators.text import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(word_ngrams(tokenize(F.col("text")), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 8)
        .orderBy(F.desc("freq"), F.asc("bigram"))
    )


@register(
    "dedup_exact_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT sha256(text)) AS n_distinct,
           COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_dup
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup_stats(d).orderBy("source")


_MH_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, sh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND ({" OR ".join(f"a.sig[{i + 1}] = b.sig[{i + 1}]" for i in range(8))})
    ORDER BY id_a, id_b
    """


@register("dedup_minhash_lsh", oracle=_MH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates. Spark executes the banded
    plan (explode→equi-join, no crossJoin); the oracle is the O(n²)
    declarative equivalent."""
    d = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        d, shingle_n=3, num_hashes=8, band_rows=1, cache_key=sf_dir
    )
    return cands.select(
        F.col("id_a"), F.col("id_b"), F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


_MH_B2_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, sh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND ({" OR ".join(f"(a.sig[{2 * b + 1}] = b.sig[{2 * b + 1}] AND a.sig[{2 * b + 2}] = b.sig[{2 * b + 2}])" for b in range(4))})
    ORDER BY id_a, id_b
    """


@register("dedup_minhash_band2", oracle=_MH_B2_ORACLE)
def dedup_minhash_band2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE setting of minhash-LSH, hash-checked: 2-row bands
    (collision prob J^2 per band) — scale_bench.py measured this
    cutting the 80k-doc candidate set 27x vs 1-row bands (SCALE.md
    "Measured pair-count growth"). Same warm signature index as
    dedup_minhash_lsh (banding happens after the cached sig table), so
    the pair of queries also exercises index reuse across band
    geometries. The oracle mirrors the 4 two-component band
    conjunctions literally."""
    d = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        d, shingle_n=3, num_hashes=8, band_rows=2, cache_key=sf_dir
    )
    return cands.select(
        F.col("id_a"), F.col("id_b"), F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


_MH_SCALE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, sh,
             [{", ".join(minhash_sql(i) for i in range(16))}] AS sig
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND ({" OR ".join(f"(a.sig[{2 * b + 1}] = b.sig[{2 * b + 1}] AND a.sig[{2 * b + 2}] = b.sig[{2 * b + 2}])" for b in range(8))})
    ORDER BY id_a, id_b
    """


@register("dedup_minhash_scale", oracle=_MH_SCALE_ORACLE)
def dedup_minhash_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REGISTERED SCALE DEFAULT for minhash-LSH near-dup (VERDICT
    r7 #3): the measured (num_hashes=16, band_rows=2) production
    geometry — 8 two-row bands, per-band collision prob J², which is
    what keeps the banded join's candidate volume sub-quadratic on a
    100 TB corpus (SCALE.md "band geometry at scale": 94% recall at 7%
    of the band1 candidate volume on the 80k synth corpus; band1's /doc
    candidate column grows 2.6→26 across a ×16 corpus while (16,2)
    stays ≤6.6). A user copying ONE minhash query should copy this
    one; `dedup_minhash_lsh` (8,1) remains the bounded small-corpus
    twin whose frozen baseline and bench row predate this default.
    Same persisted signature-index machinery (operators/dedup.py
    minhash_lsh_candidates) — only the geometry literals differ; the
    oracle mirrors the 8 two-component band conjunctions literally."""
    d = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        d, shingle_n=3, num_hashes=16, band_rows=2, cache_key=sf_dir
    )
    return cands.select(
        F.col("id_a"), F.col("id_b"), F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


_MH_INC_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, sh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
     AND ({" OR ".join(f"a.sig[{i + 1}] = b.sig[{i + 1}]" for i in range(8))})
    ORDER BY id_a, id_b
    """


@register("dedup_minhash_incremental", oracle=_MH_INC_ORACLE)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental minhash index maintenance (VERDICT r6 #6a): the
    corpus is split into a base (90%) and a delta (doc_id % 10 = 0 —
    the append batch); minhash_lsh_append computes the NEW candidate
    pairs the delta introduces by probing the delta's bands against
    the base∪delta band union — never rebuilding base signatures, so
    per-append cost is ∝ |delta|, the contract a streaming-ingest
    dedup pipeline needs. Banding is per-doc independent, so the
    result equals the full rebuild's candidates restricted to
    delta-involving pairs — exactly what the oracle states (the full
    banded form + the delta predicate), making the maintenance
    identity itself the checked semantics."""
    from fairy_spark.operators.dedup import minhash_lsh_append

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    pairs = minhash_lsh_append(
        base, delta, shingle_n=3, num_hashes=8, band_rows=1, cache_key=sf_dir
    )
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


_SUBSTR_ORACLE = """
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 14, 0)),
               i -> array_to_string(toks[i:i+14], ' ')))) AS gram
      FROM t
    ), cnt AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 16
    ), k AS (
      SELECT doc_id, gram FROM g JOIN cnt USING (gram)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM k a JOIN k b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@register("dedup_substring_exact", oracle=_SUBSTR_ORACLE)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. arXiv:2107.06499 style): doc
    pairs sharing >= 1 verbatim 15-token run, counted. Catches the long
    quote embedded in two otherwise-different docs that whole-doc
    minhash scores below threshold. Corpus-linear gram explode, 32-byte
    digest shuffle, boilerplate cap (> 16 docs per gram dropped) which
    is also the quadratic bound — cap mirrored in the oracle."""
    from fairy_spark.operators.dedup import substring_dedup_pairs

    d = load_table(spark, sf_dir, "documents")
    return substring_dedup_pairs(d, gram_n=15, max_gram_docs=16).orderBy(
        "id_a", "id_b"
    )


def _simhash_oracle(bits: int = 16) -> str:
    h = portable_hash_sql("tok", "simhash")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}" for j in range(bits)
    )
    combine = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), h AS (
      SELECT id, {h} % {1 << bits} AS h FROM toks
    ), sums AS (
      SELECT id, {bit_sums} FROM h GROUP BY id
    )
    SELECT id, CAST({combine} AS BIGINT) AS simhash
    FROM sums
    ORDER BY id
    """


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, bits=16).orderBy("id")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, n_chars // 50 AS len_bucket, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, source, len_bucket, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, source, len_bucket, sh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sig a JOIN sig b
      ON a.source = b.source
     AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
     AND ({" OR ".join(f"a.sig[{i + 1}] = b.sig[{i + 1}]" for i in range(8))})
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(a.sh || b.sh)) >= 0.005
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked n-gram Jaccard, band-bounded (VERDICT r3 item 2).

    Block key = (source, n_chars div 50) — near-dup docs have
    near-equal lengths — but a block alone is only a constant-factor
    pair reduction: block population grows linearly with the corpus, so
    in-block all-pairs grows quadratically (the r3 plan's 100 TB
    scale-killer). Candidates now ALSO require a minhash band collision
    inside the block: the pair join is keyed by
    (source, len_bucket, band_id, band_hash), so bucket population is
    bounded by per-band hash agreement (≈ near-dup cluster size), not
    by block size. The oracle mirrors the bands with the identical
    md5-window signatures — banding is part of the checked semantics,
    exactly as dedup_embedding_cosine mirrors its hyperplanes."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("n_chars div 50").alias("len_bucket"),
        "text",
    )
    cands = minhash_lsh_candidates(
        d,
        shingle_n=3,
        num_hashes=8,
        band_rows=1,
        cache_key=sf_dir,
        block_cols=["source", "len_bucket"],
    )
    return (
        cands.filter(F.col("jaccard") >= 0.005)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


_COS_SQL = """
  list_reduce(list_prepend(0.0,
    list_transform(generate_series(1, 64),
      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (x,y) -> x+y)
  / (sqrt(list_reduce(list_prepend(0.0,
       list_transform(CAST(a.embedding AS DOUBLE[]), x -> x*x)), (x,y) -> x+y))
   * sqrt(list_reduce(list_prepend(0.0,
       list_transform(CAST(b.embedding AS DOUBLE[]), x -> x*x)), (x,y) -> x+y)))
"""


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_COS_SQL}, 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
      WHERE a.vec_id <= 10
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rn
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, rn
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a bounded query set: broadcast
    queries, one corpus scan, per-query top-k window."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 10)
    return brute_force_topk(e, q, k=5).orderBy("query_id", "rn")


from fairy_spark.operators.similarity import hyperplane_signature_sql as _hp_sql

_EMB_DEDUP_ORACLE = f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_hp_sql(4)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_COS_SQL}, 6) AS cos
    FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND a.bucket = b.bucket
    WHERE {_COS_SQL} >= 0.35
    ORDER BY id_a, id_b
    """


@register("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, blocked by a
    4-plane hyperplane-LSH bucket — candidate pairs only within a
    bucket (random-hyperplane collision prob for cos >= 0.35 pairs is
    high at 4 bits; the unblocked form is an O(n²) crossJoin that
    took 31 s at sf0.1 and cannot survive 100 TB). The oracle computes
    the identical bucket (same literal weights, same fold order), so
    blocking is part of the checked semantics. Per-row norms hoisted
    out of the pair loop as usual."""
    from fairy_spark.operators.similarity import _dvec, dot, hyperplane_signature, norm

    e = load_table(spark, sf_dir, "embeddings")
    side = e.select(
        "vec_id",
        _dvec(F.col("embedding")).alias("v"),
        norm(_dvec(F.col("embedding"))).alias("nv"),
        hyperplane_signature(F.col("embedding"), planes=4).alias("bucket"),
    )
    a = side.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("nv").alias("na"), "bucket",
    )
    b = side.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nv").alias("nb"), "bucket",
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= 0.35)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )


_LSH_TOPK_ORACLE = f"""
    WITH sig AS MATERIALIZED (
      SELECT vec_id, embedding, {_hp_sql(8)} AS bucket FROM embeddings
    ), ranked AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_COS_SQL}, 6) AS cos,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY ROUND({_COS_SQL}, 6) DESC, b.vec_id) AS rn
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
      WHERE a.vec_id <= 10
    )
    SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, rn
    """


@register("ml_ann_lsh_topk", oracle=_LSH_TOPK_ORACLE)
def ml_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — HASH-CHECKED at its registered
    geometry (VERDICT r9 #6; formerly the rows-only residual). "ANN is
    approximate" means recall < 1 vs brute force, NOT nondeterminism:
    given the deterministic literal-weight hyperplane signature, the
    bucket equi-join's candidate set is a pure function of the data,
    and the ranking is reproducible cross-engine with the same
    6-decimal cosine round + id tie-break the hash-green
    `ml_ann_lsh_exact16` / `ml_ann_lsh_recall` rows already use — so
    the oracle mirrors the FULL registered geometry (8 planes, whole
    embeddings table, k=5) rather than a bounded slice. Recall vs
    brute force stays pinned by `ml_ann_lsh_recall`; containment
    properties in tests/test_similarity.py."""
    from fairy_spark.operators.similarity import lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 10)
    return lsh_topk(e, q, k=5).orderBy("query_id", "rn")


_ANN_EXACT_ORACLE = f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_hp_sql(4)} AS bucket
      FROM embeddings WHERE vec_id < 64
    ), scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_COS_SQL}, 6) AS cos
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
      WHERE a.vec_id < 8
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """


@register("ml_ann_lsh_exact16", oracle=_ANN_EXACT_ORACLE)
def ml_ann_lsh_exact16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic twin of ml_ann_lsh_topk (VERDICT r4 #4): the SAME
    lsh_topk code path — hyperplane signature, bucket equi-join,
    per-query top-k window — over a bounded 64-vector corpus with 4
    planes (16 buckets, so buckets genuinely collide), where the
    oracle mirrors the identical bucket bits and fold order in SQL.
    This hash-checks the LSH bucket machinery end-to-end; only the
    recall-vs-brute-force question (inherently approximate) stays with
    the property tests in tests/test_similarity.py."""
    from fairy_spark.operators.similarity import lsh_topk

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    q = e.filter(F.col("vec_id") < 8)
    return lsh_topk(e, q, k=3, planes=4).orderBy("query_id", "rn")


_IVF_Q_FULL_SQL = (
    "list_transform(generate_series(1, 64), "
    "i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT))"
)


def _int_l2_sql(a: str, b: str) -> str:
    return (
        "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, 64), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        "(x, y) -> x + y) AS BIGINT)"
    )


_IVF_TOPK_ORACLE = f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, {_IVF_Q_FULL_SQL} AS q FROM embeddings
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cid,
             q AS cq
      FROM c
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ), a0 AS (
      SELECT vec_id, cid FROM (
        SELECT c.vec_id, s.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_int_l2_sql('c.q', 's.cq')}, s.cid) AS r
        FROM c CROSS JOIN seeds s)
      WHERE r = 1
    ), m AS (
      SELECT a0.cid, dim.i AS dim,
             CAST(CAST(SUM(c.q[dim.i]) AS BIGINT) // COUNT(*) AS BIGINT) AS mval
      FROM a0 JOIN c USING (vec_id) CROSS JOIN generate_series(1, 64) AS dim(i)
      GROUP BY a0.cid, dim.i
    ), cent AS MATERIALIZED (
      SELECT cid, list(mval ORDER BY dim) AS cq FROM m GROUP BY cid
    ), d1 AS MATERIALIZED (
      SELECT c.vec_id, cent.cid, {_int_l2_sql('c.q', 'cent.cq')} AS d2
      FROM c CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id AS neighbor_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d1)
      WHERE r = 1
    ), probed AS (
      SELECT vec_id AS query_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d1 WHERE vec_id <= 10)
      WHERE r <= 4
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 64), i -> cq.q[i] * cn.q[i])),
                  (x, y) -> x + y) AS BIGINT) AS dot
      FROM probed p
      JOIN assigned a ON p.cluster = a.cluster AND a.neighbor_id != p.query_id
      JOIN c cq ON cq.vec_id = p.query_id
      JOIN c cn ON cn.vec_id = a.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS rn
      FROM (SELECT DISTINCT query_id, neighbor_id, dot FROM scored)
    )
    SELECT query_id, neighbor_id, dot, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, rn
    """


@register("ml_ann_ivf_topk", oracle=_IVF_TOPK_ORACLE)
def ml_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-clustered approximate top-k — HASH-CHECKED at its registered
    geometry (VERDICT r10 #4; formerly the registry's LAST rows-only
    row). The one step the float form could not oracle-check was the
    Lloyd mean update: an IEEE float average over corpus rows whose
    summation order no cross-engine SQL can mirror bit-for-bit. The
    registered pipeline therefore runs operators/similarity.
    ivf_mips_topk — the identical IVF structure (md5-seeded init,
    integer-L2 assignment with cid tie-break, ONE Lloyd round, 4-probe
    pruning, in-cluster scoring, per-query top-5) with the Lloyd
    update in exact integers: centroid = elementwise bigint SUM
    (order-independent) `DIV` count (truncating division — DuckDB `//`
    truncates identically), and MIPS integer-dot ranking (the
    ml_ann_ivf_exact convention; cosine's float division is the other
    non-oracle-able op). The oracle mirrors the FULL registered
    geometry — whole embeddings corpus, n_clusters=16, n_probe=4 —
    rather than a bounded slice. Recall vs exact MIPS brute force
    stays pinned by `ml_ann_ivf_recall`; the float-cosine ivf_topk
    operator remains the API variant, property-tested in
    tests/test_similarity.py."""
    from fairy_spark.operators.similarity import ivf_mips_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 10)
    return ivf_mips_topk(e, q, k=5, n_clusters=16, n_probe=4).orderBy(
        "query_id", "rn"
    )


_IVF_APPEND_ORACLE = f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, {_IVF_Q_FULL_SQL} AS q FROM embeddings
    ), b AS MATERIALIZED (
      SELECT vec_id, q FROM c WHERE vec_id % 5 != 4
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cid,
             q AS cq
      FROM b
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ), a0 AS (
      SELECT vec_id, cid FROM (
        SELECT b.vec_id, s.cid,
               ROW_NUMBER() OVER (PARTITION BY b.vec_id
                                  ORDER BY {_int_l2_sql('b.q', 's.cq')}, s.cid) AS r
        FROM b CROSS JOIN seeds s)
      WHERE r = 1
    ), m AS (
      SELECT a0.cid, dim.i AS dim,
             CAST(CAST(SUM(b.q[dim.i]) AS BIGINT) // COUNT(*) AS BIGINT) AS mval
      FROM a0 JOIN b USING (vec_id) CROSS JOIN generate_series(1, 64) AS dim(i)
      GROUP BY a0.cid, dim.i
    ), cent AS MATERIALIZED (
      SELECT cid, list(mval ORDER BY dim) AS cq FROM m GROUP BY cid
    ), d1 AS MATERIALIZED (
      SELECT c.vec_id, cent.cid, {_int_l2_sql('c.q', 'cent.cq')} AS d2
      FROM c CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id AS neighbor_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d1)
      WHERE r = 1
    ), probed AS (
      SELECT vec_id AS query_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d1 WHERE vec_id <= 10)
      WHERE r <= 4
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 64), i -> cq.q[i] * cn.q[i])),
                  (x, y) -> x + y) AS BIGINT) AS dot
      FROM probed p
      JOIN assigned a ON p.cluster = a.cluster AND a.neighbor_id != p.query_id
      JOIN c cq ON cq.vec_id = p.query_id
      JOIN c cn ON cn.vec_id = a.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS rn
      FROM (SELECT DISTINCT query_id, neighbor_id, dot FROM scored)
    )
    SELECT query_id, neighbor_id, dot, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, rn
    """


@register("ml_ann_ivf_append", oracle=_IVF_APPEND_ORACLE)
def ml_ann_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest (VERDICT r11 #4 — the coarse-quantizer
    analog of dedup_minhash_incremental / stream_exec_minhash_append):
    the corpus is split deterministically into a BASE (vec_id % 5 !=
    4, 80%) and a DELTA batch (the other 20%, proportional at every
    SF); operators/similarity.ivf_mips_append builds the exact-integer
    quantizer (md5-seeded init + one bigint-SUM-`DIV`-count Lloyd
    round) from the base ONLY, assigns the delta to those EXISTING
    centroids with no re-clustering, and answers top-5 over base ∪
    delta at the ml_ann_ivf_topk geometry (n_clusters=16, n_probe=4,
    queries vec_id <= 10 — ids 4 and 9 are themselves delta members,
    so the appended batch is exercised on both the corpus and the
    query side). The oracle mirrors the split algebra: seeds + Lloyd
    over the base CTE, assignment/probe/score over the full corpus.
    Scale: a 100 TB embedding store ingests batches continuously;
    per-batch cost here is O(|delta|·k·dim) assignment against
    broadcast k×dim centroid metadata — rebuilding the quantizer per
    batch is the anti-pattern. Empty-delta equivalence with
    ml_ann_ivf_topk is pinned in tests/test_similarity.py."""
    from fairy_spark.operators.similarity import ivf_mips_append

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 5 != 4)
    delta = e.filter(F.col("vec_id") % 5 == 4)
    q = e.filter(F.col("vec_id") <= 10)
    return ivf_mips_append(base, delta, q, k=5, n_clusters=16, n_probe=4).orderBy(
        "query_id", "rn"
    )


def _ivf_delete_oracle(dead_pred: str, num: int, den: int) -> str:
    """Oracle template for the IVF delete/compact leg: the RETRAIN
    DECISION is computed from the data (COUNT CTEs + the exact integer
    cross-multiply n_deleted·den >= n_live·num) and then BRANCHES the
    quantizer's training set inside SQL — ``train`` is live when the
    decision says retrain, the full base when it says keep — so the
    hash check proves the decision AND the branch taken, not just
    neighbor lists. Seeds + Lloyd mirror _IVF_TOPK_ORACLE over
    ``train``; assignment is restricted to LIVE vectors (tombstoned
    ids can never come back as neighbors); queries probe from the
    full corpus (a deleted id may still query)."""
    return f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, {_IVF_Q_FULL_SQL} AS q FROM embeddings
    ), live AS MATERIALIZED (
      SELECT vec_id, q FROM c WHERE NOT ({dead_pred})
    ), decision AS MATERIALIZED (
      SELECT (SELECT COUNT(*) FROM c) - (SELECT COUNT(*) FROM live) AS n_deleted,
             (SELECT COUNT(*) FROM live) AS n_live,
             ((SELECT COUNT(*) FROM c) - (SELECT COUNT(*) FROM live)) * {den}
               >= (SELECT COUNT(*) FROM live) * {num} AS retrained
    ), train AS MATERIALIZED (
      SELECT vec_id, q FROM live WHERE (SELECT retrained FROM decision)
      UNION ALL
      SELECT vec_id, q FROM c WHERE NOT (SELECT retrained FROM decision)
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cid,
             q AS cq
      FROM train
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ), a0 AS (
      SELECT vec_id, cid FROM (
        SELECT t.vec_id, s.cid,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                                  ORDER BY {_int_l2_sql('t.q', 's.cq')}, s.cid) AS r
        FROM train t CROSS JOIN seeds s)
      WHERE r = 1
    ), m AS (
      SELECT a0.cid, dim.i AS dim,
             CAST(CAST(SUM(t.q[dim.i]) AS BIGINT) // COUNT(*) AS BIGINT) AS mval
      FROM a0 JOIN train t USING (vec_id) CROSS JOIN generate_series(1, 64) AS dim(i)
      GROUP BY a0.cid, dim.i
    ), cent AS MATERIALIZED (
      SELECT cid, list(mval ORDER BY dim) AS cq FROM m GROUP BY cid
    ), d1 AS MATERIALIZED (
      SELECT c.vec_id, cent.cid, {_int_l2_sql('c.q', 'cent.cq')} AS d2
      FROM c CROSS JOIN cent
    ), assigned AS (
      SELECT vec_id AS neighbor_id, cid AS cluster FROM (
        SELECT d1.vec_id, d1.cid,
               ROW_NUMBER() OVER (PARTITION BY d1.vec_id ORDER BY d2, d1.cid) AS r
        FROM d1 JOIN live USING (vec_id))
      WHERE r = 1
    ), probed AS (
      SELECT vec_id AS query_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM d1 WHERE vec_id <= 10)
      WHERE r <= 4
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 64), i -> cq.q[i] * cn.q[i])),
                  (x, y) -> x + y) AS BIGINT) AS dot
      FROM probed p
      JOIN assigned a ON p.cluster = a.cluster AND a.neighbor_id != p.query_id
      JOIN c cq ON cq.vec_id = p.query_id
      JOIN c cn ON cn.vec_id = a.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS rn
      FROM (SELECT DISTINCT query_id, neighbor_id, dot FROM scored)
    )
    SELECT query_id, neighbor_id, dot, CAST(rn AS INTEGER) AS rn,
           CAST(d.n_deleted AS BIGINT) AS n_deleted,
           CAST(d.n_live AS BIGINT) AS n_live,
           d.retrained AS retrained
    FROM ranked CROSS JOIN decision d WHERE rn <= 5
    ORDER BY query_id, rn
    """


@register("ml_ann_ivf_delete", oracle=_ivf_delete_oracle("vec_id % 8 = 1", 1, 4))
def ml_ann_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF delete below the staleness threshold — the cheap TOMBSTONE
    branch (VERDICT r12 #2: the LSM-style third leg of the IVF ledger
    next to build/append): vec_id % 8 == 1 (12.5% of the corpus, the
    same fraction at every SF) is tombstoned out of the searchable
    set by one id anti-join; the deleted/live ratio 1/7 stays under
    τ = 1/4, so the quantizer built from the FULL base is KEPT STALE —
    deletion costs only the mask, never a re-cluster. The decision is
    computed from counts on both engines and materialized in every
    output row (n_deleted, n_live, retrained=false), so the hash
    check proves the branch; deleted ids can still QUERY (ids 1, 9
    are tombstoned and <= 10) but never return as neighbors.
    ml_ann_ivf_compact exercises the opposite branch; the flip at
    exactly τ is pinned in tests/test_similarity.py. Scale: the mask
    is an id equi-anti-join (no quantizer work), the LSM delete
    contract a 100 TB embedding store needs."""
    from fairy_spark.operators.similarity import ivf_mips_delete

    e = load_table(spark, sf_dir, "embeddings")
    tomb = e.filter(F.col("vec_id") % 8 == 1).select("vec_id")
    q = e.filter(F.col("vec_id") <= 10)
    return ivf_mips_delete(
        e, tomb, q, k=5, n_clusters=16, n_probe=4, retrain_num=1, retrain_den=4
    ).orderBy("query_id", "rn")


@register("ml_ann_ivf_compact", oracle=_ivf_delete_oracle("vec_id % 3 = 1", 1, 4))
def ml_ann_ivf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF delete ABOVE the staleness threshold — the COMPACTION
    branch (VERDICT r12 #2): vec_id % 3 == 1 (~33%) is tombstoned,
    the deleted/live ratio 1/2 exceeds τ = 1/4, so the coarse
    quantizer is RETRAINED over the live vectors only (seeds + the
    bigint-SUM-DIV Lloyd round run on the post-delete corpus — the
    LSM merge: centroids stop pointing at mass that no longer
    exists). Same operator and oracle template as ml_ann_ivf_delete;
    only the tombstone fraction differs, and the oracle COMPUTES the
    branch from counts — retrained=true is carried in every output
    row, so a hash match proves the compaction actually ran. Scale:
    retrain cost is the standard Lloyd shuffle over the live set,
    triggered by measured drift instead of per-batch."""
    from fairy_spark.operators.similarity import ivf_mips_delete

    e = load_table(spark, sf_dir, "embeddings")
    tomb = e.filter(F.col("vec_id") % 3 == 1).select("vec_id")
    q = e.filter(F.col("vec_id") <= 10)
    return ivf_mips_delete(
        e, tomb, q, k=5, n_clusters=16, n_probe=4, retrain_num=1, retrain_den=4
    ).orderBy("query_id", "rn")


@register("ml_ann_ivf_persisted", oracle=_IVF_TOPK_ORACLE)
def ml_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURABLE ANN index round-trip (r13 — kv_persist_restart's
    contract applied to the IVF ledger, closing it at
    build/append/delete/compact/persist): the quantizer and the
    cluster-PARTITIONED assignment table are WRITTEN to parquet, both
    are RELOADED, and top-5 is answered entirely from the stored
    index — the probed clusters (bounded ≤ |q|·n_probe driver read)
    partition-prune the assignments scan, so a query batch reads
    n_probe/n_clusters of the index directories, never the vector
    corpus. The oracle IS ml_ann_ivf_topk's full-geometry SQL: a
    green row proves persist → reload → pruned-search ≡ fresh search
    byte-for-byte (same quantize/seed/Lloyd algebra, shared
    _mips_score_assigned tail). Scale: build once, serve many — the
    stored layout is what a 100 TB embedding service actually scans."""
    from fairy_spark.operators.similarity import ivf_mips_persist_and_search
    from fairy_spark.queries.sources_io import _scratch

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 10)
    return ivf_mips_persist_and_search(
        e, q, _scratch(spark, sf_dir, "ivf_index"), k=5, n_clusters=16, n_probe=4
    ).orderBy("query_id", "rn")


@register("ml_ann_ivf_persisted_append", oracle=_IVF_APPEND_ORACLE)
def ml_ann_ivf_persisted_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest + serve LOOP on the durable ANN index (r13 — the
    composition of ml_ann_ivf_persisted and ml_ann_ivf_append): the
    cluster-partitioned index is built and WRITTEN from the BASE
    (vec_id % 5 != 4) only; the 20% DELTA batch is ingested by
    reloading the stored centroid table, assigning only the delta and
    APPENDING its rows into the cluster partitions (base dirs never
    rewritten — the cheap partition-local write a continuous
    embedding store relies on); top-5 is then answered from the
    UPDATED stored index with probed-cluster partition pruning. The
    oracle is ml_ann_ivf_append's split algebra verbatim, so a green
    row proves persist → append → pruned-search ≡ the one-shot
    in-memory append byte-for-byte; the in-memory equivalence is also
    pinned directly in tests/test_similarity.py."""
    from fairy_spark.operators.similarity import ivf_mips_persist_append
    from fairy_spark.queries.sources_io import _scratch

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 5 != 4)
    delta = e.filter(F.col("vec_id") % 5 == 4)
    q = e.filter(F.col("vec_id") <= 10)
    return ivf_mips_persist_append(
        base, delta, q, _scratch(spark, sf_dir, "ivf_index_append"),
        k=5, n_clusters=16, n_probe=4,
    ).orderBy("query_id", "rn")


_IVF_Q_SQL = (
    "list_transform(generate_series(1, 64), "
    "i -> CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT))"
)
_IVF_EXACT_ORACLE = f"""
    WITH c AS (
      SELECT vec_id, {_IVF_Q_SQL} AS q
      FROM embeddings WHERE vec_id < 64
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cid,
             q AS cq
      FROM c
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 4
    ), dist AS (
      SELECT c.vec_id, s.cid,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 64),
                                 i -> (c.q[i] - s.cq[i]) * (c.q[i] - s.cq[i]))),
                  (x, y) -> x + y) AS BIGINT) AS d2
      FROM c CROSS JOIN seeds s
    ), assigned AS (
      SELECT vec_id AS neighbor_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM dist)
      WHERE r = 1
    ), probed AS (
      SELECT vec_id AS query_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM dist WHERE vec_id < 8)
      WHERE r <= 2
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 64), i -> cq.q[i] * cn.q[i])),
                  (x, y) -> x + y) AS BIGINT) AS dot
      FROM probed p
      JOIN assigned a ON p.cluster = a.cluster AND a.neighbor_id != p.query_id
      JOIN c cq ON cq.vec_id = p.query_id
      JOIN c cn ON cn.vec_id = a.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, dot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id) AS rn
      FROM (SELECT DISTINCT query_id, neighbor_id, dot FROM scored)
    )
    SELECT query_id, neighbor_id, dot, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """


@register("ml_ann_ivf_exact", oracle=_IVF_EXACT_ORACLE)
def ml_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-checked twin of ml_ann_ivf_topk (VERDICT r6
    #3 — the ml_ann_lsh_exact16 recipe applied to IVF): same pipeline
    structure (md5-seeded init, nearest-centroid assignment, n_probe=2
    probe pruning, in-cluster scoring, per-query top-3) over a bounded
    64-vector corpus, in EXACT integer arithmetic — vectors quantized
    by a power-of-two scale (operators/similarity.quantized_vec),
    integer L2 assignment, integer dot-product (MIPS) ranking — so
    the oracle mirrors every step byte-for-byte. This closes the IVF
    bucket/probe machinery's external-proof gap; only the Lloyd float
    mean update and recall (inherently approximate) remain with the
    property tests in tests/test_similarity.py."""
    from fairy_spark.operators.similarity import ivf_exact_topk

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    return ivf_exact_topk(e, k=3, n_clusters=4, n_probe=2).orderBy("query_id", "rn")


_LSH_RECALL_ORACLE = f"""
    WITH bf AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY ROUND({_COS_SQL}, 6) DESC, b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        WHERE a.vec_id <= 10
      ) WHERE rn <= 5
    ), sig AS MATERIALIZED (
      SELECT vec_id, embedding, {_hp_sql(8)} AS bucket FROM embeddings
    ), ann AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY ROUND({_COS_SQL}, 6) DESC, b.vec_id) AS rn
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
        WHERE a.vec_id <= 10
      ) WHERE rn <= 5
    ), hits AS (
      SELECT bf.query_id, COUNT(*) AS n_hits
      FROM bf JOIN ann ON bf.query_id = ann.query_id
                      AND bf.neighbor_id = ann.neighbor_id
      GROUP BY bf.query_id
    ), annc AS (
      SELECT query_id, COUNT(*) AS n_ann FROM ann GROUP BY query_id
    )
    SELECT bfc.query_id,
           CAST(bfc.n_bf AS INTEGER) AS n_bf,
           CAST(COALESCE(annc.n_ann, 0) AS INTEGER) AS n_ann,
           CAST(COALESCE(hits.n_hits, 0) AS INTEGER) AS n_hits
    FROM (SELECT query_id, COUNT(*) AS n_bf FROM bf GROUP BY query_id) bfc
    LEFT JOIN annc USING (query_id)
    LEFT JOIN hits USING (query_id)
    ORDER BY query_id
    """


@register("ml_ann_lsh_recall", oracle=_LSH_RECALL_ORACLE)
def ml_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHABLE recall contract for `ml_ann_lsh_topk` (VERDICT r8 #6):
    the rows-only ANN query's quality metric made driver-checkable.
    Runs the IDENTICAL approximate path (lsh_topk, 8 planes, k=5, the
    same <=10 query slice) AND the exact brute-force twin
    (brute_force_topk — sim_cosine_topk's hash-green machinery), then
    emits per-query integer counts: n_bf ground-truth neighbors, n_ann
    candidates the LSH buckets produced, n_hits their intersection —
    recall@5 = n_hits/n_bf, fully deterministic because both rankings
    round cosine at 6 decimals with id tie-breaks and the hyperplane
    signature is the same literal-weight fold in both engines. Scale:
    the eval is |queries| x corpus, a bounded diagnostic you run on a
    sampled slab, not the serving path (that's lsh_topk alone)."""
    from fairy_spark.operators.similarity import lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 10)
    ann = lsh_topk(e, q, k=5).select("query_id", "neighbor_id")
    bf = brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    hits = (
        bf.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    annc = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    bfc = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_bf"))
    return (
        bfc.join(annc, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_bf").cast("int").alias("n_bf"),
            F.coalesce("n_ann", F.lit(0)).cast("int").alias("n_ann"),
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
        )
        .orderBy("query_id")
    )


_IVF_RECALL_ORACLE = f"""
    WITH annq AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM ({_IVF_EXACT_ORACLE})
    ), c2 AS MATERIALIZED (
      SELECT vec_id, {_IVF_Q_SQL} AS q
      FROM embeddings WHERE vec_id < 64
    ), bf AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT cq.vec_id AS query_id, cn.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY cq.vec_id ORDER BY
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(generate_series(1, 64), i -> cq.q[i] * cn.q[i])),
                      (x, y) -> x + y) AS BIGINT) DESC, cn.vec_id) AS rn
        FROM c2 cq JOIN c2 cn ON cn.vec_id != cq.vec_id
        WHERE cq.vec_id < 8
      ) WHERE rn <= 3
    ), hits AS (
      SELECT bf.query_id, COUNT(*) AS n_hits
      FROM bf JOIN annq ON bf.query_id = annq.query_id
                       AND bf.neighbor_id = annq.neighbor_id
      GROUP BY bf.query_id
    ), annc AS (
      SELECT query_id, COUNT(*) AS n_ann FROM annq GROUP BY query_id
    )
    SELECT bfc.query_id,
           CAST(bfc.n_bf AS INTEGER) AS n_bf,
           CAST(COALESCE(annc.n_ann, 0) AS INTEGER) AS n_ann,
           CAST(COALESCE(hits.n_hits, 0) AS INTEGER) AS n_hits
    FROM (SELECT query_id, COUNT(*) AS n_bf FROM bf GROUP BY query_id) bfc
    LEFT JOIN annc USING (query_id)
    LEFT JOIN hits USING (query_id)
    ORDER BY query_id
    """


@register("ml_ann_ivf_recall", oracle=_IVF_RECALL_ORACLE)
def ml_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHABLE recall contract for the IVF family (VERDICT r8 #6):
    recall@3 of the probe-pruned IVF search vs the exact integer-MIPS
    brute force on the bounded 64-vector eval slice — the slice where
    the whole pipeline is integer arithmetic (ml_ann_ivf_exact's
    lattice), so ground truth, candidates, and their intersection are
    all exactly reproducible in SQL. As of r11 the full-corpus
    `ml_ann_ivf_topk` is itself hash-checked (ivf_mips_topk's integer
    Lloyd update closed the former rows-only residual); this row keeps
    pinning the QUALITY side — recall of the bucket/probe/rank
    machinery vs exact brute force. Emits per-query
    (n_bf, n_ann, n_hits) integer counts."""
    from fairy_spark.operators.similarity import ivf_exact_topk, quantized_vec

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    ann = ivf_exact_topk(e, k=3, n_clusters=4, n_probe=2).select(
        "query_id", "neighbor_id"
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        quantized_vec(F.col("embedding")).alias("nq"),
    )
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        quantized_vec(F.col("embedding")).alias("qq"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("nq"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    bf = (
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("dot", idot)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    hits = (
        bf.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    annc = ann.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ann"))
    bfc = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_bf"))
    return (
        bfc.join(annc, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_bf").cast("int").alias("n_bf"),
            F.coalesce("n_ann", F.lit(0)).cast("int").alias("n_ann"),
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
        )
        .orderBy("query_id")
    )


_SEMDEDUP_ORACLE = f"""
    WITH c AS (
      SELECT vec_id, {_IVF_Q_SQL} AS q
      FROM embeddings
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cid,
             q AS cq
      FROM c
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16
    ), dist AS (
      SELECT c.vec_id, s.cid, c.q,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 64),
                                 i -> (c.q[i] - s.cq[i]) * (c.q[i] - s.cq[i]))),
                  (x, y) -> x + y) AS BIGINT) AS d2
      FROM c CROSS JOIN seeds s
    ), assigned AS (
      SELECT vec_id, cid AS cluster, q,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 64), i -> q[i] * q[i])),
                  (x, y) -> x + y) AS BIGINT) AS n2
      FROM (
        SELECT vec_id, cid, q,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS r
        FROM dist)
      WHERE r = 1
    ), dup AS (
      SELECT a.cluster, a.vec_id AS ia, b.vec_id AS ib
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])),
              (x, y) -> x + y) AS BIGINT) > 0
        AND 8 * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])),
              (x, y) -> x + y) AS BIGINT)
            * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(generate_series(1, 64), i -> a.q[i] * b.q[i])),
              (x, y) -> x + y) AS BIGINT)
            >= a.n2 * b.n2
    )
    SELECT CAST(p.cluster AS INTEGER) AS cluster,
           CAST(p.n_vectors AS BIGINT) AS n_vectors,
           CAST(COALESCE(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(d.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(p.n_vectors - COALESCE(d.n_removed, 0) AS BIGINT) AS n_survivors
    FROM (SELECT cluster, COUNT(*) AS n_vectors FROM assigned GROUP BY cluster) p
    LEFT JOIN (
      SELECT cluster, COUNT(*) AS n_dup_pairs, COUNT(DISTINCT ib) AS n_removed
      FROM dup GROUP BY cluster
    ) d ON p.cluster = d.cluster
    ORDER BY p.cluster
    """


@register("dedup_semantic_semdedup", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540 —
    VERDICT r7 #8b): the embedding-side analog of minhash near-dup —
    coarse k-means-style clusters bound the pair search, in-cluster
    cos² ≥ 1/8 marks the higher-id member a semantic duplicate,
    survivors = cluster minus removed. Everything rides the
    ivf_exact_topk integer lattice (power-of-two quantization,
    md5-seeded centroids, integer-L2 assignment, cross-multiplied
    cosine-threshold predicate), so the full pipeline — clustering
    INCLUDED — is hash-checked against the oracle; no float op
    survives to the output. Per-cluster summary keeps the result
    node-sized. Scale: pair cost is Σ|cluster|² with n_clusters grown
    ∝ corpus (the paper's 50k clusters / 100M points), the same
    bounded-block discipline as every dedup family member
    (operators/similarity.py semdedup_summary)."""
    from fairy_spark.operators.similarity import semdedup_summary

    e = load_table(spark, sf_dir, "embeddings")
    return semdedup_summary(
        e, n_clusters=16, tau_sq_num=1, tau_sq_den=8
    ).orderBy("cluster")


_CC_ORACLE = f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, sh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ({" OR ".join(f"a.sig[{i + 1}] = b.sig[{i + 1}]" for i in range(8))})
       AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(a.sh || b.sh)) >= 0.4
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND r.u != e.v
    )
    SELECT u AS node, LEAST(u, MIN(v)) AS comp
    FROM reach
    GROUP BY u
    ORDER BY node
    """


@register("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the minhash-LSH
    pair graph (operators/components.py, iterative min-label
    propagation — the Pregel pattern in DataFrames, one shuffle per
    round, rounds bounded by cluster diameter). The oracle computes
    identical components with a recursive-CTE transitive closure —
    fine at oracle scale, unthinkable at 100 TB; the iterative plan is
    the scale path."""
    from fairy_spark.operators.components import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        d, shingle_n=3, num_hashes=8, band_rows=1, cache_key=sf_dir
    ).filter(
        F.col("jaccard") >= 0.4
    )
    return connected_components(pairs).orderBy("node")


@register(
    "text_pack_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, LEN({_TOKS_SQL}) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS bin_id
    FROM c
    ORDER BY doc_id
    """,
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document packing: assign docs (in stable doc_id order) to
    ~512-token context bins by running token count — the standard
    pretraining sequence-packing op. Distributed two-pass prefix sum
    (operators/packing.py): per-shard local windows + driver-side
    prefix over #shard subtotals; NO single-partition window (gated in
    tests/test_plans.py)."""
    from fairy_spark.operators.packing import pack_into_bins

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(tokenize(F.col("text"))).alias("n_tokens"))
    return pack_into_bins(t, "doc_id", "n_tokens", bin_tokens=512).orderBy("doc_id")


@register(
    "sample_stratified",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, lang FROM r WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: first-k per class (deterministic by id order)
    — the class-balancing primitive. Ranking window per stratum, one
    shuffle on the stratum key."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


@register(
    "ml_minmax_scale",
    oracle="""
    WITH stats AS (
      SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents
    )
    SELECT doc_id,
           ROUND((n_chars - lo) / CAST(hi - lo AS DOUBLE), 6) AS scaled
    FROM documents, stats
    ORDER BY doc_id
    """,
)
def ml_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling: global stats computed once and
    broadcast into the row pass (a 1-row cross join, NOT a window over
    an unpartitioned frame — the window form funnels the table through
    one task)."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    return (
        d.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                (F.col("n_chars") - F.col("lo"))
                / (F.col("hi") - F.col("lo")).cast("double"),
                6,
            ).alias("scaled"),
        )
        .orderBy("doc_id")
    )


@register(
    "documents_clean",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars, {_TOKS_SQL} AS toks FROM documents
    ), scored AS (
      SELECT doc_id, lang, n_chars,
             LEN(toks) AS n_tokens,
             CAST(LEN(list_intersect(list_distinct(toks), {_STOPWORDS_SQL})) AS DOUBLE)
               / LEN(toks) AS stop_ratio
      FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(stop_ratio, 6) AS stop_ratio
    FROM scored
    WHERE n_chars BETWEEN 100 AND 20000
      AND n_tokens >= 20
      AND stop_ratio >= 0.01
    ORDER BY doc_id
    """,
)
def documents_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed quality-filter pass every training-data pipeline
    starts with: length bounds + token floor + stopword-density floor,
    one scan, all pushable predicates."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        stopword_ratio(toks).alias("stop_ratio_raw"),
    )
    return (
        scored.filter(
            F.col("n_chars").between(100, 20000)
            & (F.col("n_tokens") >= 20)
            & (F.col("stop_ratio_raw") >= 0.01)
        )
        .select(
            "doc_id", "lang", "n_tokens", F.round("stop_ratio_raw", 6).alias("stop_ratio")
        )
        .orderBy("doc_id")
    )


@register(
    "text_tfidf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents WHERE doc_id <= 100
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks
    )
    SELECT tf.doc_id, tf.tok AS tok,
           CAST(tf.tf AS BIGINT) AS tf,
           CAST(df.df AS BIGINT) AS df,
           ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    WHERE df.df >= 5
    ORDER BY tf.doc_id, tf.tok
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring: term frequency per doc × log inverse document
    frequency. Two hash aggregations over the exploded token table +
    one broadcast of the (small) document-frequency side; n_docs rides
    in as a broadcast scalar."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df")).filter(
        F.col("df") >= 5
    )
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .orderBy("doc_id", "tok")
    )


@register(
    "text_quality_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), t2 AS (
      SELECT doc_id, tok FROM toks WHERE tok != ''
    ), freq AS (
      SELECT tok, COUNT(*) AS c FROM t2 GROUP BY tok
    ), tot AS (
      SELECT COUNT(*) AS n FROM t2
    ), lp AS (
      SELECT tok,
             CAST(floor(ln(CAST(c AS DOUBLE) / n) * 1000000 + 0.5) AS BIGINT) AS lpf
      FROM freq, tot
    )
    SELECT t2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(CAST(SUM(lp.lpf) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) * 1000000 AS BIGINT) AS mean_logprob
    FROM t2 JOIN lp USING (tok)
    GROUP BY t2.doc_id
    ORDER BY t2.doc_id
    """,
)
def text_quality_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score (the CCNet-style signal,
    with the corpus itself as the LM): per-doc mean log p(token) under
    corpus unigram frequencies — low scores flag gibberish/outlier
    docs for filtering or curriculum buckets. Determinism: ln is
    computed ONCE per vocabulary entry and fixed-pointed (floor(x*1e6
    + 0.5) as BIGINT), so per-doc totals are exact integer sums — no
    accumulation-order drift — and the mean is one IEEE division
    (ml_embed_centroid pattern). Scale: vocab hash agg + a 1-row total
    broadcast + a shuffle join on token + per-doc hash agg — all
    corpus-linear, no windows, no collect."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    lp = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.log(F.col("c").cast("double") / F.col("n")) * 1000000 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lpf"),
    )
    return (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(F.sum("lpf").alias("s"), F.count(F.lit(1)).alias("n_toks"))
        .select(
            "doc_id",
            F.col("n_toks").cast("bigint").alias("n_toks"),
            (
                F.col("s").cast("double")
                / (F.col("n_toks") * 1000000).cast("double")
            ).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_repetition",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
                 list_transform(generate_series(1, greatest(len(toks)-2, 0)),
                                i -> array_to_string(toks[i:i+2], ' ')) AS grams
          FROM t)
    SELECT doc_id,
           CAST(LEN(grams) AS INTEGER) AS n_grams,
           ROUND(1.0 - CAST(LEN(list_distinct(grams)) AS DOUBLE) / LEN(grams), 6)
             AS rep_ratio
    FROM g
    WHERE LEN(grams) > 0
    ORDER BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram ratio per document — the standard boilerplate /
    degenerate-repetition quality signal in pretraining filters
    (1 - distinct/total over word 3-grams). Pure JVM HOF pipeline, no
    shuffle: the ratio is per-row."""
    from fairy_spark.operators.text import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    # word_ngrams clamps via slice(…, greatest(sz-k, 0)): a <=2-token
    # doc yields an EMPTY gram array, matching the oracle's empty
    # generate_series(1, 0). The previous hand-rolled
    # sequence(1, size-2) built a DESCENDING [1, 0] for short docs
    # (step defaults to -1 when start > stop) and slice(toks, 0, 3)
    # crashed the whole query on any 1-2 token document.
    grams = word_ngrams(tokenize(F.col("text")), 3)
    t = d.select("doc_id", grams.alias("grams")).filter(F.size("grams") > 0)
    return (
        t.select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            F.round(
                1.0
                - F.size(F.array_distinct("grams")).cast("double")
                / F.size("grams"),
                6,
            ).alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_gopher_repetition",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, LENGTH(lower(text)) AS n_chars_lc, {_TOKS_SQL} AS toks
      FROM documents
    ), g2 AS (
      SELECT doc_id, n_chars_lc,
             unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
                    i -> array_to_string(toks[i:i+1], ' '))) AS gram
      FROM t
    ), c2 AS (
      SELECT doc_id, ANY_VALUE(n_chars_lc) AS n_chars_lc,
             CAST(MAX(cnt * LENGTH(gram)) AS BIGINT) AS top2_chars
      FROM (SELECT doc_id, n_chars_lc, gram, COUNT(*) AS cnt
            FROM g2 GROUP BY doc_id, n_chars_lc, gram)
      GROUP BY doc_id
    ), g5 AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks)-4, 0)),
                    i -> array_to_string(toks[i:i+4], ' '))) AS gram
      FROM t
    ), c5 AS (
      SELECT doc_id,
             CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(gram) END), 0)
                  AS BIGINT) AS dup5_chars
      FROM (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY doc_id, gram)
      GROUP BY doc_id
    )
    SELECT c2.doc_id,
           ROUND(CAST(c2.top2_chars AS DOUBLE) / c2.n_chars_lc, 6) AS top2_char_frac,
           ROUND(CAST(COALESCE(c5.dup5_chars, 0) AS DOUBLE) / c2.n_chars_lc, 6)
             AS dup5_char_frac,
           (CAST(c2.top2_chars AS DOUBLE) / c2.n_chars_lc <= 0.20
            AND CAST(COALESCE(c5.dup5_chars, 0) AS DOUBLE) / c2.n_chars_lc <= 0.15)
             AS keep
    FROM c2 LEFT JOIN c5 ON c2.doc_id = c5.doc_id
    ORDER BY c2.doc_id
    """,
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher REPETITION rule pack (Rae et al. 2112.11446 §A1.1
    Table A1 — the character-occupancy half that `text_gopher_filters`'
    word-statistics pack does not cover, and `text_repetition`'s
    duplicate-trigram COUNT ratio only approximates):

      * top2_char_frac — fraction of (lowercased) characters covered by
        occurrences of the most char-covering word 2-gram, computed as
        MAX over grams of count·len(gram) — a deterministic scalar MAX,
        so no cross-engine most-frequent tie-break is needed (two grams
        tying on count but differing in length resolve by coverage,
        which is the quantity the rule thresholds anyway)
      * dup5_char_frac — fraction of characters covered by word 5-grams
        occurring more than once: Σ over duplicated grams of
        count·len(gram). Both use the standard count·length occupancy
        simplification of the paper's non-overlapping span measure —
        identical on both engines, stated in the name of exactness.
      * keep — Table A1 thresholds (top 2-gram ≤ 0.20, dup 5-gram
        ≤ 0.15), the drop decision a cleaning pipeline composes with
        the word-statistics pack.

    Plan: one gram explode per n, hash agg per (doc, gram), hash agg
    per doc, one doc-keyed join — corpus-linear, no window, no
    driver-side work; gram bytes (not pair counts) bound the shuffle,
    the same cost shape as dedup_substring_exact's profiled gram
    digests. Computation lives in operators/pipeline.py
    gopher_repetition_stats (unit-tested on known-by-construction
    frames); this row pins it against the oracle."""
    from fairy_spark.operators.pipeline import gopher_repetition_stats

    d = load_table(spark, sf_dir, "documents")
    return gopher_repetition_stats(d).orderBy("doc_id")


@register(
    "text_pattern_scan",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '(table|query|scan)')) AS INTEGER)
             AS n_term_hits,
           CAST(LEN(regexp_extract_all(text, '[aeiou][a-z]+')) AS INTEGER)
             AS n_vowel_runs,
           regexp_matches(text, '[0-9]') AS has_digits
    FROM documents
    WHERE doc_id <= 200
    ORDER BY doc_id
    """,
)
def text_pattern_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex content scan per document — the PII/content-pattern sweep
    shape (regexp_count + regexp_like, both whole-stage-codegen
    expressions; swap patterns for email/phone/ID classes in a real
    pipeline — the synthetic corpus contains none, so the patterns here
    target its actual vocabulary to keep the oracle signal non-zero)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    return (
        d.select(
            "doc_id",
            F.regexp_count("text", F.lit("(table|query|scan)")).cast("int").alias(
                "n_term_hits"
            ),
            F.regexp_count("text", F.lit("[aeiou][a-z]+")).cast("int").alias(
                "n_vowel_runs"
            ),
            F.col("text").rlike("[0-9]").alias("has_digits"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_bm25",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id <= 300
    ), dl AS (
      SELECT doc_id, CAST(LEN(toks) AS DOUBLE) AS dl FROM d
    ), stats AS (
      SELECT AVG(dl) AS avgdl, COUNT(*) AS n_docs FROM dl
    ), toks AS (
      SELECT doc_id, unnest(toks) AS tok FROM d
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
      WHERE tok IN ('table', 'query', 'scan', 'spark')
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM toks
      WHERE tok IN ('table', 'query', 'scan', 'spark')
      GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id,
             LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf
      JOIN df ON tf.tok = df.tok
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
           ROUND(SUM(s), 6) AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query-term
    set — the retrieval-scoring sibling of text_tfidf. Per-term df and
    the corpus stats (N, avgdl) broadcast; the only data-scale shuffle
    is the (doc, term) tf aggregation. Both engines evaluate the
    identical IEEE expression tree, so 6-decimal rounding is exact."""
    terms = ["table", "query", "scan", "spark"]
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    base = d.select("doc_id", tokenize(F.col("text")).alias("toks"))
    dl = base.select("doc_id", F.size("toks").cast("double").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    toks = base.select("doc_id", F.explode("toks").alias("tok")).filter(
        F.col("tok").isin(*terms)
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = (
        idf
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.round(F.sum("s"), 6).alias("bm25"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_survivors",
    oracle=f"""
    WITH cc AS ({_CC_ORACLE}),
    members AS (
      SELECT cc.node, cc.comp, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY cc.comp
                                ORDER BY d.n_chars DESC, cc.node) AS rn
      FROM cc JOIN documents d ON cc.node = d.doc_id
    )
    SELECT comp,
           MIN(CASE WHEN rn = 1 THEN node END) AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM members
    GROUP BY comp
    ORDER BY comp
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection per near-dup cluster — the step
    after dedup_components in a real pipeline: keep ONE representative
    (longest text, ties to smallest id) per component and count the
    members it replaces. Expressed as min_by over an ordering struct —
    a hash aggregate on the component key, no ranking window."""
    from fairy_spark.operators.components import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        d, shingle_n=3, num_hashes=8, band_rows=1, cache_key=sf_dir
    ).filter(
        F.col("jaccard") >= 0.4
    )
    cc = connected_components(pairs)
    members = cc.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    order_key = F.struct(
        (-F.col("n_chars")).alias("neg_chars"), F.col("node").alias("node")
    )
    return (
        members.groupBy("comp")
        .agg(
            F.min_by("node", order_key).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("comp")
    )


@register(
    "text_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_toks
      FROM documents),
    c AS (
      SELECT doc_id, n_toks,
             SUM(n_toks) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT doc_id, n_toks, CAST(cum AS BIGINT) AS cum_toks
    FROM c
    WHERE cum <= 12000
    ORDER BY doc_id
    """,
)
def text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection: walk documents in doc_id order and
    keep rows while the running token total stays under budget — the
    'fill a training mixture to N tokens' op. The oracle's global
    running window is the semantics; the Spark plan is the two-pass
    sharded prefix sum (operators/packing.py), so no SinglePartition
    window at any corpus size (gated in tests/test_plans.py)."""
    from fairy_spark.operators.packing import packed_running_sum

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("n_toks"),
    )
    with_cum = packed_running_sum(t, "doc_id", "n_toks", n_shards=32)
    return (
        with_cum.filter(F.col("cum") <= 12000)
        .select("doc_id", "n_toks", F.col("cum").alias("cum_toks"))
        .orderBy("doc_id")
    )


@register(
    "text_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, greatest(len(toks)-7, 0)),
                        i -> array_to_string(toks[i:i+7], ' '))) AS gram
          FROM t),
    probe AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    hits AS (SELECT DISTINCT g.doc_id FROM g JOIN probe USING (gram)
             WHERE g.doc_id % 97 <> 0)
    SELECT t.doc_id,
           t.doc_id IN (SELECT doc_id FROM hits) AS contaminated
    FROM t
    WHERE t.doc_id % 97 <> 0
    ORDER BY t.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag training documents sharing any
    word 8-gram with the benchmark probe set (docs with doc_id % 97 == 0
    stand in for the held-out benchmark). Probe gram tables are small by
    nature (benchmarks are kilo-docs, corpora are tera-docs), so the
    probe side broadcasts and the check is one map-side semi-join over
    the corpus gram stream — never an all-pairs comparison; with a
    giant probe set drop the broadcast hint and Catalyst shuffles the
    equi-join on the gram key."""
    from fairy_spark.operators.text import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(word_ngrams(tokenize(F.col("text")), 8)).alias("gram")
    )
    probe = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    hits = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(probe), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        d.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
        )
        .orderBy("doc_id")
    )


@register(
    "text_chunk_split",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
      FROM documents WHERE doc_id <= 200),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, GREATEST(len(toks), 1), 48)) AS start
      FROM t)
    SELECT doc_id,
           CAST((start - 1) // 48 AS BIGINT) AS chunk_id,
           CAST(LEN(toks[start:start+63]) AS BIGINT) AS chunk_len,
           array_to_string(toks[start:start+63], ' ') AS chunk_text
    FROM s
    ORDER BY doc_id, chunk_id
    """,
)
def text_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 64-token chunks on a 48-token
    stride (16-token overlap) — the standard long-document split for
    context-bounded training and retrieval indexing. Pure per-row HOF
    explode (sequence of chunk starts → slice), no shuffle until the
    output sort; chunk boundaries depend only on the row, so the op is
    embarrassingly parallel at any corpus size."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("toks")), F.lit(1)), F.lit(48)
    )
    chunk = F.slice(F.col("toks"), F.col("start"), 64)
    return (
        d.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select("doc_id", "toks", F.posexplode(starts).alias("pos", "start"))
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("chunk_len"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "text_pii_mask",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS masked,
           CAST(LEN(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_masked
    FROM documents
    WHERE doc_id <= 300
    ORDER BY doc_id
    """,
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style masking transform: global regexp_replace of a pattern
    class with a typed placeholder plus a per-doc hit count — the
    redaction pass every training corpus runs (swap the digit-run
    pattern for email/phone/ID classes in production; the synthetic
    corpus contains only digit runs, which keeps the oracle signal
    non-zero). Whole-stage-codegen expressions, zero shuffles."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    return (
        d.select(
            "doc_id",
            F.regexp_replace("text", r"[0-9]+", "<NUM>").alias("masked"),
            F.regexp_count("text", F.lit(r"[0-9]+")).cast("int").alias("n_masked"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_curriculum_decile",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents)
    SELECT doc_id, n_chars, CAST(decile AS BIGINT) AS decile
    FROM ranked
    ORDER BY doc_id
    """,
)
def text_curriculum_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: global NTILE(10) over a difficulty proxy
    (doc length) WITHOUT the SinglePartition exchange a bare
    ``NTILE() OVER (ORDER BY ...)`` plans. Positions come from the
    two-pass sharded rank (operators/ranking.py); the SQL NTILE split
    (first N%k buckets hold one extra row) is reproduced from the
    driver-known total: q, r = divmod(N, k); pos <= r*(q+1) falls in
    the wide buckets, the rest in the narrow ones."""
    from fairy_spark.operators.ranking import (
        ntile_from_pos,
        sharded_global_row_number,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked, n = sharded_global_row_number(
        d, ["n_chars", "doc_id"], n_shards=32
    )
    return (
        ranked.select(
            "doc_id",
            "n_chars",
            ntile_from_pos(F.col("pos"), n, 10).cast("bigint").alias("decile"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_inverted_index",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    d AS (SELECT tok,
                 list_sort(list(DISTINCT doc_id)) AS postings,
                 COUNT(DISTINCT doc_id) AS df
          FROM t GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tok,
           CAST(df AS BIGINT) AS df,
           array_to_string(postings[1:100], ',') AS postings_head
    FROM d, n
    WHERE df <= 0.77 * n_docs
    ORDER BY tok
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (posting lists): term → sorted document list —
    the retrieval-side structure BM25/TF-IDF probe. One explode + one
    hash aggregate. Terms in >77% of documents are stoplisted by a
    RELATIVE df cutoff (broadcast 1-row corpus count), so the band is
    scale-factor-stable; the emitted posting list is capped to its
    first 100 ids (the full list is index payload, not query output)
    and flattened to a joined string — the driver's hash canonicalizer
    rejects array cells (FIXTURES.md)."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.concat_ws(
                ",", F.slice(F.sort_array(F.collect_set("doc_id")), 1, 100)
            ).alias("postings_head"),
        )
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= 0.77 * F.col("n_docs"))
        .select("tok", F.col("df").cast("bigint").alias("df"), "postings_head")
        .orderBy("tok")
    )


@register(
    "dedup_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), b AS (
      SELECT doc_id,
             unnest(list_transform(
                 generate_series(0, CAST(len(toks) // 8 AS BIGINT) - 1),
                 i -> array_to_string(toks[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' '))) AS block
      FROM t WHERE len(toks) >= 8
    ), c AS (
      SELECT block, COUNT(DISTINCT doc_id) AS ndocs FROM b GROUP BY block
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks,
           CAST(CAST(SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS BIGINT) AS dup_ratio
    FROM b JOIN c ON b.block = c.block
    GROUP BY b.doc_id
    ORDER BY doc_id
    """,
)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level (paragraph-analog) cross-document dedup: split each
    doc into consecutive 8-token blocks and flag blocks that appear in
    MORE THAN ONE document — the line/paragraph-granularity dedup pass
    (CCNet-style) that catches shared boilerplate exact-doc dedup
    misses. Plan: per-row HOF blocking (no shuffle), one hash agg for
    corpus block counts keyed on md5 (narrow shuffle key, not the block
    text), one |blocks|-bound join back, one per-doc agg — every stage
    is key-partitioned; nothing is corpus-quadratic. The partial tail
    block (< 8 tokens) is dropped on both sides by construction."""
    k = 8
    d = load_table(spark, sf_dir, "documents")
    t = (
        d.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .withColumn("nb", F.floor(F.size("toks") / k).cast("int"))
        .filter(F.col("nb") >= 1)  # sequence(0,-1) descends: guard short docs
    )
    blocks = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("nb") - 1),
                lambda i: F.array_join(F.slice(F.col("toks"), i * k + 1, F.lit(k)), " "),
            )
        ).alias("block"),
    ).withColumn("bh", F.md5("block")).drop("block")
    counts = blocks.groupBy("bh").agg(F.countDistinct("doc_id").alias("ndocs"))
    dup = F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0)).cast("bigint")
    return (
        blocks.join(counts, "bh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            dup.alias("n_dup_blocks"),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup_blocks").cast("double") / F.col("n_blocks")
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    f AS (
      SELECT doc_id, toks, len(toks) AS n,
             list_filter(generate_series(1, len(toks)),
                         i -> {portable_hash_sql("list_extract(toks, i)", "cdc")} % 8 = 0) AS bpos
      FROM t
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_filter(
               list_transform(generate_series(1, len(bpos) + 1),
                 j -> array_to_string(
                        toks[list_extract(list_prepend(1, list_transform(bpos, p -> p + 1)), j)
                             :list_extract(list_append(bpos, n), j)], ' ')),
               c -> c <> '')) AS chunk
      FROM f
    ),
    e AS (
      SELECT doc_id, md5(chunk) AS dig,
             len(string_split(chunk, ' ')) AS ctoks
      FROM ch
    ),
    c AS (SELECT dig, COUNT(DISTINCT doc_id) AS ndocs FROM e GROUP BY dig)
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(ctoks) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(CASE WHEN c.ndocs > 1 THEN ctoks ELSE 0 END) AS BIGINT) * 1000000
             // CAST(SUM(ctoks) AS BIGINT) AS dup_tok_ppm
    FROM e JOIN c USING (dig)
    GROUP BY e.doc_id
    ORDER BY e.doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (LBFS/gear-CDC discipline,
    Muthitacharoen et al. SOSP 2001, public): chunk boundaries fall
    after tokens whose portable hash is 0 mod 8, so chunking
    RE-SYNCHRONIZES after insertions — the variable-size complement to
    `dedup_chunks`' fixed 8-token blocks, where one inserted token
    shifts every downstream block and defeats block-level dedup on
    edited boilerplate. Per doc: chunk count, exact token coverage
    (chunks partition the stream — n_tokens doubles as a structural
    self-check), cross-document duplicated-chunk count, and the
    duplicated-token fraction (ppm, exact integers).

    100 TB shape: chunk build is per-row HOFs (one md5 per token, zero
    shuffle); the corpus leg keys one hash agg + join back on the
    32-hex chunk digest, never the chunk text; everything downstream
    is chunk-count-linear. Reference analog: fairy's chunked transport
    (`local_kv_options.rs:24` chuck_size) slices blobs at FIXED
    offsets; CDC is the dedup-aware slicing a cache layer would adopt
    to share storage across near-identical blobs."""
    from fairy_spark.operators.text import cdc_chunks

    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        F.explode(cdc_chunks(tokenize(F.col("text")), mod=8)).alias("chunk"),
    )
    e = ch.select(
        "doc_id",
        F.md5("chunk").alias("dig"),
        F.size(F.split("chunk", " ")).alias("ctoks"),
    )
    # r14 (guide §1.2 step 1): `e` feeds BOTH the per-digest count agg
    # and the join-back, and building it is the expensive part — the
    # CDC chunker is an aggregate() HOF computing one md5 per TOKEN, so
    # without a boundary the whole tokenize+chunk+hash pass ran twice
    # (2 parquet scans of documents in the before-plan). Checkpoint,
    # not persist: the chunk frame is corpus-shaped — stays out of
    # broadcast plans.

    e = e.localCheckpoint(eager=True)
    counts = e.groupBy("dig").agg(F.countDistinct("doc_id").alias("ndocs"))
    dup = F.when(F.col("ndocs") > 1, True)
    return (
        e.join(counts, "dig")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum("ctoks").cast("bigint").alias("n_tokens"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("bigint").alias("n_dup_chunks"),
            F.sum(F.when(dup, F.col("ctoks")).otherwise(0)).cast("bigint").alias("_dup_toks"),
        )
        .withColumn("dup_tok_ppm", F.expr("_dup_toks * 1000000L DIV n_tokens"))
        .drop("_dup_toks")
        .orderBy("doc_id")
    )


_MH_EST_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, sh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_filter([1,2,3,4,5,6,7,8],
                                      i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 8, 6)
             AS est_jaccard,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND ({" OR ".join(f"a.sig[{i + 1}] = b.sig[{i + 1}]" for i in range(8))})
    ORDER BY id_a, id_b
    """


@register("dedup_minhash_est", oracle=_MH_EST_ORACLE)
def dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality diagnostic for minhash dedup: each LSH
    candidate pair with BOTH the signature-agreement estimate
    (matches/num_hashes — what a 100 TB pipeline thresholds on, since
    re-shingling every candidate pair is the expensive part) and the
    exact shingle Jaccard. Reuses the warm persisted signature index
    from dedup_minhash_lsh (same cache_key), so the incremental cost is
    one extra |pairs|-bound join."""
    d = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        d, shingle_n=3, num_hashes=8, band_rows=1, cache_key=sf_dir,
        with_estimate=True,
    )
    return cands.select(
        "id_a",
        "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("id_a", "id_b")


@register(
    "text_zipf_rank",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS term FROM documents
    ), c AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks WHERE term <> '' GROUP BY term
    ), r AS (
      SELECT term, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rnk
      FROM c
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, term, cnt
    FROM r WHERE rnk <= 50
    ORDER BY rnk
    """,
)
def text_zipf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency head: the top-50 corpus terms with their
    global frequency rank — the vocabulary curve every corpus audit
    plots. Scale path: term counts are one hash agg; the top-50 cut is
    orderBy+limit, which Spark plans as TakeOrderedAndProject
    (per-partition heaps, no global sort); ranks over the surviving 50
    rows come from the sharded two-pass ranking module, so no stage —
    not even the final rank — funnels the vocabulary through a
    SinglePartition window."""
    from fairy_spark.operators.ranking import sharded_global_row_number

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokenize(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    top = (
        counts.orderBy(F.desc("cnt"), F.asc("term"))
        .limit(50)
        # limit() leaves ONE partition, which satisfies every
        # distribution — the sharded-rank window would silently inherit
        # SinglePartition and trip the registry-wide plan gate.
        # Re-spread the (bounded, ≤50-row) head so the rank runs
        # hash-partitioned by shard like every other global rank.
        .repartition(8)
        .withColumn("neg_cnt", -F.col("cnt"))
    )
    ranked, _n = sharded_global_row_number(
        top, ["neg_cnt", "term"], n_shards=8, pos_col="rnk"
    )
    return ranked.select(
        F.col("rnk").cast("bigint").alias("rnk"), "term", "cnt"
    ).orderBy("rnk")


@register(
    "ml_embed_centroid",
    oracle="""
    WITH ex AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS pos,
             unnest(embedding) AS v
      FROM embeddings
    ), f AS (
      SELECT label, CAST(pos AS INTEGER) AS pos,
             CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vi
      FROM ex
    )
    SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(CAST(SUM(vi) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) * 1000000 AS BIGINT) AS centroid
    FROM f GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def ml_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (class prototypes / IVF-style
    coarse codebook built from labels): posexplode to (label, dim)
    cells, one hash agg, centroid = exact fixed-point sum / (n·1e6) so
    the mean is ONE IEEE division of exactly-represented integers on
    both engines — no accumulation-order drift (FIXTURES.md exactness
    conventions). Long (label, pos) output keeps cells scalar for the
    driver's value hash instead of stringifying arrays. Scales: the
    shuffle carries dim·|labels| partial sums, not vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "v"))
    fixed = F.floor(F.col("v").cast("double") * 1000000 + F.lit(0.5)).cast("bigint")
    agg = (
        ex.withColumn("vi", fixed)
        .groupBy("label", "pos0")
        .agg(F.sum("vi").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return agg.select(
        "label",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("n").cast("bigint").alias("n_vecs"),
        (F.col("s").cast("double") / (F.col("n") * 1000000).cast("double")).alias(
            "centroid"
        ),
    ).orderBy("label", "pos")


def _jl_oracle() -> str:
    from fairy_spark.operators.similarity import jl_project_sql

    return f"""
    WITH p AS (
      SELECT vec_id,
             {jl_project_sql(16, 64, 1024)} AS proj,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 64),
                 i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT)
                      * CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT))),
               (a, b) -> a + b) AS qnorm
      FROM embeddings
    )
    SELECT vec_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(proj, x -> ((x % 1000000000) + 1000000000) % 1000000000)),
             (a, b) -> (a * 131 + b) % 1000000007) AS proj_checksum,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(proj, x -> x * x)), (a, b) -> a + b) AS pnorm,
           qnorm,
           CASE WHEN qnorm > 0
                THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(proj, x -> x * x)), (a, b) -> a + b)
                     * 3000000 // (16 * qnorm)
                ELSE 0 END AS norm_ratio_ppm
    FROM p
    ORDER BY vec_id
    """


@register("ml_random_projection", oracle=_jl_oracle())
def ml_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 16 dims
    (Achlioptas sparse ternary matrix, PODS 2001 — public): the cheap
    dimensionality cut an embedding pipeline takes BEFORE ANN
    indexing at 100 TB (4× fewer bytes per vector to shuffle, band,
    or sort). Entries ±1/0 from the portable md5 stream embed as
    plan literals; vectors quantize once (floor(v·1024), exact), so
    every projected component is an exact bigint — the projection is
    hash-checkable where a float Gaussian JL never is. Output per
    vector: an order-pinned checksum of the 16 components, exact
    projected/original squared norms, and the JL norm-preservation
    ratio in ppm (E[pnorm] = k/3 · qnorm for the ternary matrix, so
    ratio_ppm concentrates near 1e6 — materializing the property the
    lemma promises). Zero shuffle: one codegen'd corpus scan."""
    from fairy_spark.operators.similarity import jl_project, quantized_vec

    e = load_table(spark, sf_dir, "embeddings")
    d = e.select(
        "vec_id",
        jl_project(F.col("embedding"), k_out=16, dims=64, scale=1024).alias("proj"),
        F.aggregate(
            F.transform(quantized_vec(F.col("embedding"), 1024), lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("qnorm"),
    )
    d = d.select(
        "vec_id",
        F.aggregate(
            F.col("proj"),
            F.lit(0).cast("bigint"),
            lambda a, x: F.pmod(a * 131 + F.pmod(x, F.lit(1000000000)), F.lit(1000000007)),
        ).alias("proj_checksum"),
        F.aggregate(
            F.transform("proj", lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("pnorm"),
        "qnorm",
    )
    return d.select(
        "vec_id",
        "proj_checksum",
        "pnorm",
        "qnorm",
        F.when(
            F.col("qnorm") > 0, F.expr("pnorm * 3000000L DIV (16 * qnorm)")
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("norm_ratio_ppm"),
    ).orderBy("vec_id")


@register(
    "ml_embed_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
      FROM v
    ), q AS (
      SELECT vec_id, v, sc,
             CASE WHEN sc = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(greatest(-127.0,
                         least(127.0, floor(x / sc + 0.5))) AS BIGINT))
             END AS q
      FROM s
    )
    SELECT vec_id, ROUND(sc, 6) AS scale,
           ROUND(list_reduce(list_prepend(0.0,
               list_transform(generate_series(1, 64),
                 i -> abs(v[i] - CAST(q[i] AS DOUBLE) * sc))), (a, b) -> a + b)
             / 64.0, 6) AS l1_err,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 64), i -> q[i] * i)),
               (a, b) -> a + b) AS BIGINT) AS q_checksum
    FROM q ORDER BY vec_id
    """,
)
def ml_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the 4x memory cut a
    100 TB embedding store takes before anything else: scale =
    max|x|/127, q = clamp(floor(x/scale + 0.5), ±127) (explicit
    half-up floor, deterministic on both engines — bare round() has
    midpoint drift). Pure per-row HOF work: zero shuffle, whole
    corpus one codegen'd scan. Output keeps scalars for the driver
    hash: the quantized array is exercised via its position-weighted
    checksum plus the reconstruction L1 error in fixed fold order."""
    from fairy_spark.operators.similarity import _dvec

    e = load_table(spark, sf_dir, "embeddings")
    v = _dvec(F.col("embedding"))
    d = e.select("vec_id", v.alias("v")).withColumn(
        "sc", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0)
    )
    qi = lambda x: F.greatest(
        F.lit(-127.0), F.least(F.lit(127.0), F.floor(x / F.col("sc") + F.lit(0.5)))
    ).cast("bigint")
    d = d.withColumn(
        "q",
        F.when(
            F.col("sc") == 0, F.transform(F.col("v"), lambda x: F.lit(0).cast("bigint"))
        ).otherwise(F.transform(F.col("v"), qi)),
    )
    l1 = (
        F.aggregate(
            F.zip_with(
                F.col("v"),
                F.col("q"),
                lambda x, qv: F.abs(x - qv.cast("double") * F.col("sc")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(64.0)
    )
    checksum = F.aggregate(
        F.zip_with(
            F.col("q"),
            F.sequence(F.lit(1), F.lit(64)),
            lambda qv, i: qv * i.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "vec_id",
        F.round("sc", 6).alias("scale"),
        F.round(l1, 6).alias("l1_err"),
        checksum.alias("q_checksum"),
    ).orderBy("vec_id")


@register(
    "ml_knn_vote",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS n_label,
             ROUND({_COS_SQL}, 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
      WHERE a.vec_id <= 30
    ), ranked AS (
      SELECT query_id, n_label,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    ), votes AS (
      SELECT query_id, n_label, COUNT(*) AS cnt
      FROM ranked WHERE rn <= 5 GROUP BY query_id, n_label
    ), pick AS (
      SELECT query_id,
             ARG_MAX(n_label, cnt*1000 + (999 - n_label)) AS pred_label,
             ARG_MAX(cnt,     cnt*1000 + (999 - n_label)) AS votes
      FROM votes GROUP BY query_id
    )
    SELECT p.query_id, a.label AS true_label, p.pred_label,
           CAST(p.votes AS BIGINT) AS votes,
           p.pred_label = a.label AS hit
    FROM pick p JOIN embeddings a ON a.vec_id = p.query_id
    ORDER BY p.query_id
    """,
)
def ml_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote — the standard embedding-quality probe: each
    query vector's label predicted by majority vote of its 5 exact
    nearest neighbors (self excluded), with the hit flag against the
    true label. Composes the broadcast-query brute-force top-k (one
    corpus scan) with a vote hash-agg; the winner is chosen by an
    integer composite (cnt·1000 + (999−label)) so count ties break to
    the smaller label identically on both engines — majority votes
    must never depend on float order or hash order."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 30)
    nb = brute_force_topk(e, q, k=5)
    lab = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    votes = (
        nb.join(lab, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ordv = F.col("cnt") * 1000 + (999 - F.col("n_label"))
    pick = votes.groupBy("query_id").agg(
        F.max_by("n_label", ordv).alias("pred_label"),
        F.max_by("cnt", ordv).alias("votes"),
    )
    truth = q.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return (
        pick.join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            "pred_label",
            F.col("votes").cast("bigint").alias("votes"),
            (F.col("pred_label") == F.col("true_label")).alias("hit"),
        )
        .orderBy("query_id")
    )


@register(
    "text_gopher_filters",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             LEN(toks) AS n_words,
             list_reduce(list_prepend(0.0, list_transform(toks, x -> CAST(LENGTH(x) AS DOUBLE))), (a,b) -> a+b)
               / LEN(toks) AS mwl,
             CAST(LEN(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
               / LEN(toks) AS ar,
             LEN(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS stop_hits
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           ROUND(mwl, 6) AS mean_word_len,
           ROUND(ar, 6) AS alpha_ratio,
           CAST(stop_hits AS INTEGER) AS stop_hits,
           (n_words BETWEEN 30 AND 10000
            AND mwl BETWEEN 3 AND 10
            AND ar >= 0.8
            AND stop_hits >= 2) AS keep
    FROM s
    ORDER BY doc_id
    """,
)
def text_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule filter (Rae et al. 2021 §A1.1, public):
    word-count bounds, mean-word-length band, alphabetic-word ratio
    floor, stopword-hit floor — the rule pack every web-scale corpus
    pass applies before dedup. One scan, all signals from one
    tokenize; pure JVM higher-order functions (no Python), so the
    whole row fits in one WholeStageCodegen span and scales as a
    narrow map over document splits. The keep verdict is
    operators/pipeline.py gopher_keep_col, the predicate the curation
    pipeline filters on."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        mean_token_len(toks).alias("mwl"),
        (
            F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).cast("double")
            / F.size(toks)
        ).alias("ar"),
        F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).alias("stop_hits"),
        gopher_keep_col("text").alias("keep"),
    )
    return base.select(
        "doc_id",
        "n_words",
        F.round("mwl", 6).alias("mean_word_len"),
        F.round("ar", 6).alias("alpha_ratio"),
        "stop_hits",
        "keep",
    ).orderBy("doc_id")


@register(
    "sample_domain_balance",
    oracle=f"""
    WITH cap AS (
      SELECT MIN(cnt) AS cap
      FROM (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source)
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {portable_hash_sql("CAST(doc_id AS VARCHAR)", "mix")}, doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source FROM r, cap WHERE rk <= cap ORDER BY doc_id
    """,
)
def sample_domain_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: downsample every source to the smallest
    source's row count, picking survivors by portable-hash order so the
    sample is deterministic and engine-independent. The training-mix
    op behind 'equal parts web/books/code'. Plan: tiny per-source count
    agg -> broadcast scalar cap -> one hash-partitioned window per
    source. At 100 TB the exact row_number sort becomes the bottleneck;
    the scale path swaps it for a hash-threshold filter
    (keep iff hash < cap/cnt * 2^60 — no sort, same determinism,
    approximate counts) which this query's exact form oracle-anchors."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    cap = counts.agg(F.min("cnt").alias("cap"))
    w = Window.partitionBy("source").orderBy(
        portable_hash64(F.col("doc_id").cast("string"), seed="mix"), "doc_id"
    )
    ranked = d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
    return (
        ranked.crossJoin(F.broadcast(cap))
        .filter(F.col("rk") <= F.col("cap"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@register(
    "sample_domain_balance_scale",
    oracle=f"""
    WITH cnts AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ), cap AS (
      SELECT MIN(cnt) AS cap FROM cnts
    ), thr AS (
      SELECT cnts.lang, (cap.cap * 1048576) // cnts.cnt AS t
      FROM cnts CROSS JOIN cap
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN thr ON d.lang = thr.lang
    WHERE {portable_hash_sql("CAST(doc_id AS VARCHAR)", "mix")} % 1048576 < thr.t
    ORDER BY doc_id
    """,
)
def sample_domain_balance_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SCALE PATH of sample_domain_balance, registered (r9): the
    exact row_number form sorts every source's rows to pick exactly
    `cap` survivors — at 100 TB that ranking window is the bottleneck
    its own docstring names. This form replaces the sort with a pure
    hash-threshold filter: keep a row iff
    hash(doc_id) mod 2^20 < (cap * 2^20) DIV cnt(group) — a narrow
    map over the corpus with two broadcast joins (per-group counts +
    the 1-row cap), NO window, NO sort, no shuffle of the corpus.
    Survivor counts are now binomial around cap rather than exactly
    cap (the documented trade: approximate counts for a sort-free
    plan), but membership is a pure function of the stable id — the
    same row survives across engines, re-runs, and incremental
    ingest. All-integer threshold arithmetic (DIV truncation matches
    DuckDB // for nonneg operands), so the row is hash-checkable; the
    exact form stays registered as the oracle-anchored twin. Keyed on
    `lang` (the testdata's SKEWED mix: en is ~3.4× the smallest
    class) rather than the uniform `source`, so the threshold
    demonstrably filters — balancing a uniform mix is a no-op in
    either form."""
    d = load_table(spark, sf_dir, "documents")
    cnts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    cap = cnts.agg(F.min("cnt").alias("cap"))
    thr = cnts.crossJoin(F.broadcast(cap)).select(
        "lang", F.expr("(cap * 1048576) DIV cnt").alias("t")
    )
    h = F.pmod(
        portable_hash64(F.col("doc_id").cast("string"), seed="mix"),
        F.lit(1048576),
    )
    return (
        d.join(F.broadcast(thr), "lang")
        .filter(h < F.col("t"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "sample_train_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             {portable_hash_sql("CAST(doc_id AS VARCHAR)", "split")} % 100 AS bucket
      FROM documents
    )
    SELECT doc_id,
           CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id
    """,
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by hash
    bucket — the split must be a pure function of the stable id (never
    rand()) so it is reproducible across engines, re-runs, and
    incremental ingest (new rows land in a split without reshuffling
    old ones). Narrow map, no shuffle; the sort is presentation-only."""
    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash64(F.col("doc_id").cast("string"), seed="split") % 100
    split = (
        F.when(F.col("bucket") < 80, F.lit("train"))
        .when(F.col("bucket") < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("doc_id", bucket.alias("bucket"))
        .select("doc_id", "bucket", split.alias("split"))
        .orderBy("doc_id")
    )


def _pipeline_band_cond(num_hashes: int, band_rows: int) -> str:
    """The LSH band-collision disjunction for the pipeline oracle's
    pair join — one conjunction of ``band_rows`` signature-component
    equalities per band, mirroring minhash_lsh_candidates' banding."""
    n_bands = num_hashes // band_rows
    return " OR ".join(
        "("
        + " AND ".join(
            f"a.sig[{b * band_rows + r + 1}] = b.sig[{b * band_rows + r + 1}]"
            for r in range(band_rows)
        )
        + ")"
        for b in range(n_bands)
    )


def _pipeline_oracle(num_hashes: int, band_rows: int) -> str:
    """The composed-pipeline oracle at a caller-chosen LSH geometry —
    identical except for the stage-3 signature width and band
    conjunctions, so the (8,1) small-corpus row and the (16,2)
    production-geometry row check against the same six-stage SQL."""
    return f"""
    WITH RECURSIVE raw AS (
      SELECT doc_id, text, n_chars, {_TOKS_SQL} AS toks FROM documents
    ), q1 AS MATERIALIZED (
      -- stage 1: Gopher quality rules (text_gopher_filters)
      SELECT doc_id, text, n_chars, toks FROM (
        SELECT doc_id, text, n_chars, toks,
               LEN(toks) AS n_words,
               list_reduce(list_prepend(0.0, list_transform(toks, x -> CAST(LENGTH(x) AS DOUBLE))), (a,b) -> a+b)
                 / LEN(toks) AS mwl,
               CAST(LEN(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
                 / LEN(toks) AS ar,
               LEN(list_filter(toks, x -> list_contains({_STOPWORDS_SQL}, x))) AS stop_hits
        FROM raw
      )
      WHERE n_words BETWEEN 30 AND 10000
        AND mwl BETWEEN 3 AND 10
        AND ar >= 0.8
        AND stop_hits >= 2
    ), q2 AS MATERIALIZED (
      -- stage 2: exact dedup, lowest id per distinct text (dedup_exact)
      SELECT q1.* FROM q1
      JOIN (SELECT MIN(doc_id) AS doc_id FROM q1 GROUP BY text) k USING (doc_id)
    ), s AS (
      SELECT doc_id, n_chars, {_SHINGLES_SQL} AS sh FROM q2
    ), sig AS MATERIALIZED (
      SELECT doc_id, n_chars, sh,
             [{", ".join(minhash_sql(i) for i in range(num_hashes))}] AS sig
      FROM s
    ), pairs AS MATERIALIZED (
      -- stage 3: minhash-LSH near-dup pairs among exact survivors
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ({_pipeline_band_cond(num_hashes, band_rows)})
       AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(a.sh || b.sh)) >= 0.4
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND r.u != e.v
    ), cc AS MATERIALIZED (
      SELECT u AS node, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u
    ), removed AS MATERIALIZED (
      -- every cluster member except the survivor (longest, ties to
      -- smallest id) — dedup_survivors' selection inverted
      SELECT node FROM (
        SELECT cc.node,
               ROW_NUMBER() OVER (PARTITION BY cc.comp
                                  ORDER BY q2.n_chars DESC, cc.node) AS rn
        FROM cc JOIN q2 ON cc.node = q2.doc_id
      ) WHERE rn > 1
    ), q3 AS MATERIALIZED (
      SELECT * FROM q2 WHERE doc_id NOT IN (SELECT node FROM removed)
    ), probe AS MATERIALIZED (
      -- stage 4: benchmark probe = 8-grams of raw docs doc_id %% 97 == 0
      SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(toks)-7, 0)),
                      i -> array_to_string(toks[i:i+7], ' '))) AS gram
      FROM raw WHERE doc_id % 97 = 0
    ), contaminated AS MATERIALIZED (
      SELECT DISTINCT g.doc_id FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(toks)-7, 0)),
                      i -> array_to_string(toks[i:i+7], ' '))) AS gram
        FROM q3 WHERE doc_id % 97 <> 0
      ) g JOIN probe USING (gram)
    ), q4 AS MATERIALIZED (
      SELECT doc_id, CAST(LEN(toks) AS INTEGER) AS n_tokens
      FROM q3
      WHERE doc_id % 97 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), packed AS (
      -- stage 5: 512-token greedy bin packing in doc_id order
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM q4
    )
    -- stage 6: deterministic 80/10/10 hash split
    SELECT doc_id, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 512.0) AS BIGINT) AS bin_id,
           CAST({portable_hash_sql("CAST(doc_id AS VARCHAR)", "split")} % 100 AS BIGINT) AS bucket,
           CASE WHEN {portable_hash_sql("CAST(doc_id AS VARCHAR)", "split")} % 100 < 80 THEN 'train'
                WHEN {portable_hash_sql("CAST(doc_id AS VARCHAR)", "split")} % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM packed
    ORDER BY doc_id
    """


_PIPELINE_ORACLE = _pipeline_oracle(8, 1)


@register("pipeline_pretrain_corpus", oracle=_PIPELINE_ORACLE)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretraining-corpus pipeline (VERDICT r8 #5) — the
    100 TB use case the LLM-data surface exists for, composed from the
    individually proven stages so the COMPOSITION itself is
    oracle-checked (per-stage contracts usually break exactly here):

      1. Gopher quality rules     (text_gopher_filters' keep predicate)
      2. exact dedup              (dedup_exact: lowest id per text)
      3. minhash near-dup + survivor selection
                                  (dedup_components + dedup_survivors:
                                   drop every cluster member except the
                                   longest, ties to smallest id)
      4. decontamination          (text_decontaminate: drop training
                                   docs sharing an 8-gram with the
                                   doc_id%%97==0 benchmark stand-in)
      5. sequence packing         (text_pack_bins: 512-token greedy
                                   bins via the sharded two-pass prefix
                                   sum — no SinglePartition window)
      6. train/valid/test split   (sample_train_split: pure hash of the
                                   stable id, never rand())

    Plan shape (the per-stage scale arguments compose): stages 1-2 are
    one codegen scan + one hash agg; stage 3 is the banded equi-join +
    bounded-round label propagation; stage 4 is a broadcast semi-join
    (probe sets are benchmark-sized); stage 5 shards the prefix sum;
    stage 6 is a narrow map. No stage introduces a cartesian product
    or a single-partition window — asserted registry-wide in
    tests/test_plans.py, which is the gate VERDICT r8 #5 names.

    Both pipeline rows are one call to
    operators/pipeline.py pretrain_corpus. The probe rows take part in
    stages 1-3 like any other doc; stage 4 then drops them with the
    rest of the contaminated docs (a probe row that survives Gopher
    has >= 30 tokens, so all of its >= 23 8-grams are probe grams).
    The probe join pins ``decontaminate_broadcast=True``: the probe set
    is benchmark-sized by construction, and the pin keeps the plan free
    of the operator's size-probe count job."""
    d = load_table(spark, sf_dir, "documents")
    return pretrain_corpus(
        d.select("doc_id", "text", "n_chars"),
        probe_docs=d.filter(F.col("doc_id") % 97 == 0),
        num_hashes=8,
        band_rows=1,
        decontaminate_broadcast=True,
    ).orderBy("doc_id")


@register("pipeline_pretrain_corpus_staged_scale", oracle=_pipeline_oracle(16, 2))
def pipeline_pretrain_corpus_staged_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline AT THE PRODUCTION GEOMETRY: the six-stage
    chain of `pipeline_pretrain_corpus`, with stage 3 at the measured
    (num_hashes=16, band_rows=2) scale setting — 8 two-row bands,
    per-band collision prob J², 27× candidate suppression vs the (8,1)
    small-corpus default at 94% recall (SCALE.md "band geometry at
    scale"). The oracle mirrors the 16-component signature and the 8
    two-component band conjunctions literally, then the same stages
    4-6, so the composition a user runs at scale through
    Engine.pretrain_corpus is itself oracle-pinned.

    "staged" names the stage-3 boundary, which is now the in-memory
    ``localCheckpoint`` every ``pretrain_corpus`` call takes (the
    parquet stage write is gone). The row keeps its name because
    perfbench/corpus_curate.py selects it by name."""
    d = load_table(spark, sf_dir, "documents")
    return pretrain_corpus(
        d.select("doc_id", "text", "n_chars"),
        probe_docs=d.filter(F.col("doc_id") % 97 == 0),
        num_hashes=16,
        band_rows=2,
        decontaminate_broadcast=True,
    ).orderBy("doc_id")


# Previous call's persisted vocab-stats frame (unpersisted on the next
# call — same leak discipline as operators/dedup.py's signature index).
_DSIR_PERSISTED: list = []


@register(
    "text_dsir_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ), t2 AS (
      SELECT doc_id, lang, tok FROM toks WHERE tok != ''
    ), raw AS (
      SELECT tok, COUNT(*) AS cr FROM t2 GROUP BY tok
    ), tgt AS (
      SELECT tok, COUNT(*) AS ct FROM t2 WHERE lang = 'en' GROUP BY tok
    ), tot AS (
      SELECT (SELECT SUM(cr) FROM raw) AS nr,
             (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt,
             (SELECT COUNT(*) FROM raw) AS v
    ), lr AS (
      SELECT raw.tok,
             CAST(floor(ln((COALESCE(tgt.ct, 0) + 1.0) / (tot.nt + tot.v)) * 1000000 + 0.5) AS BIGINT)
             - CAST(floor(ln((raw.cr + 1.0) / (tot.nr + tot.v)) * 1000000 + 0.5) AS BIGINT) AS diff_f
      FROM raw LEFT JOIN tgt ON raw.tok = tgt.tok CROSS JOIN tot
    )
    SELECT t2.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(lr.diff_f) AS DOUBLE) / 1000000.0 AS weight
    FROM t2 JOIN lr ON t2.tok = lr.tok
    GROUP BY t2.doc_id
    ORDER BY t2.doc_id
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, public): score
    each document by the summed unigram log-likelihood ratio between a
    target domain (here lang='en') and the raw corpus, with add-one
    smoothing over the shared vocabulary — the data-selection signal
    used to resample web crawl toward a target distribution. Each ln
    is fixed-pointed independently (floor(ln·1e6+0.5), the
    text_quality_logprob convention) so the per-token ratio is an
    exact integer and per-doc sums are order-independent and
    engine-portable. Plan: ONE corpus scan builds the vocab table
    (cr = raw count, ct = conditional target count in the same hash
    agg); it is persisted (vocab-sized, unpersisted on the next call
    per the dedup.py convention) so the totals row and the per-token
    ratios both derive from it without re-scanning; then one broadcast
    join back onto the exploded token stream — the corpus is read
    exactly twice (stats pass + scoring pass), never five times (the
    naive raw/tgt/tot formulation Catalyst can't CSE)."""
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # Unpersist the PREVIOUS call's frame before persisting the new one:
    # the two plans are identical, so persist-then-unpersist in the other
    # order silently drops the shared CacheManager entry and every
    # downstream branch recompiles back to a corpus scan (observed).
    while _DSIR_PERSISTED:
        _DSIR_PERSISTED.pop().unpersist(blocking=False)
    vocab = (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab.count()  # eager: tot and lr below must not re-derive the corpus agg
    _DSIR_PERSISTED.append(vocab)

    tot = vocab.agg(
        F.sum("cr").alias("nr"),
        F.sum("ct").alias("nt"),
        F.count(F.lit(1)).alias("v"),
    )

    def _fp_ln(x):
        return F.floor(F.log(x) * 1000000 + 0.5).cast("bigint")

    lr = (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            (
                _fp_ln((F.col("ct") + 1.0) / (F.col("nt") + F.col("v")))
                - _fp_ln((F.col("cr") + 1.0) / (F.col("nr") + F.col("v")))
            ).alias("diff_f"),
        )
    )
    return (
        toks.join(F.broadcast(lr), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (F.sum("diff_f").cast("double") / 1000000.0).alias("weight"),
        )
        .orderBy("doc_id")
    )


_CMS_POS_SQL = (
    "CAST(concat('0x', substr(md5('cms' || CAST(i AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT) % 256"
)


@register(
    "sketch_countmin",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ), t2 AS (
      SELECT tok FROM toks WHERE tok != ''
    ), seeds AS (SELECT unnest([0,1,2,3]) AS i),
    pos AS (
      SELECT tok, i, {_CMS_POS_SQL} AS bucket FROM t2 CROSS JOIN seeds
    ), cms AS (
      SELECT i, bucket, COUNT(*) AS c FROM pos GROUP BY i, bucket
    ), exact AS (
      SELECT tok, COUNT(*) AS exact_cnt FROM t2 GROUP BY tok
    ), ppos AS (
      SELECT e.tok, e.exact_cnt, s.i, {_CMS_POS_SQL.replace('tok', 'e.tok')} AS bucket
      FROM exact e CROSS JOIN seeds s
    )
    SELECT p.tok,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(cms.c) AS BIGINT) AS est_cnt,
           (MIN(cms.c) >= p.exact_cnt) AS never_undercounts
    FROM ppos p JOIN cms ON p.i = cms.i AND p.bucket = cms.bucket
    GROUP BY p.tok, p.exact_cnt
    ORDER BY p.tok
    """,
)
def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005, public)
    frequency estimation over the corpus token stream: d=4 hash rows ×
    w=256 buckets, estimate = min over rows of the bucket count. The
    sketch is the scale structure itself — partial bucket counts merge
    by ADDITION, so the groupBy's map-side partial agg IS the
    distributed sketch-merge, and the finished sketch is d·w = 1024
    rows (broadcastable) no matter the corpus size. Every probe is
    checked against its exact count with the CMS guarantee column
    (never undercounts) materialized for the oracle to verify."""
    d = load_table(spark, sf_dir, "documents")
    W, D = 256, 4
    toks = (
        d.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )

    def positions(tok_col):
        return F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    (portable_hash64(tok_col, seed=f"cms{i}") % W).alias("bucket"),
                )
                for i in range(D)
            ]
        )

    cms = (
        toks.select(F.explode(positions(F.col("tok"))).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    ppos = exact.select(
        "tok", "exact_cnt", F.explode(positions(F.col("tok"))).alias("rb")
    ).select("tok", "exact_cnt", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    return (
        ppos.join(F.broadcast(cms), ["row", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").alias("est_cnt"))
        .select(
            "tok",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("never_undercounts"),
        )
        .orderBy("tok")
    )


_BLOOM_POS_SQL = (
    "CAST(concat('0x', substr(md5('bf' || CAST(k AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT) % 4096"
)


@register(
    "sketch_bloom",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ), t2 AS (
      SELECT lang, tok FROM toks WHERE tok != ''
    ), vocab AS (
      SELECT tok, MAX(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) = 1 AS in_ref
      FROM t2 GROUP BY tok
    ), seeds AS (SELECT unnest([0,1,2]) AS k),
    bits AS (
      SELECT DISTINCT {_BLOOM_POS_SQL} AS pos
      FROM (SELECT tok FROM vocab WHERE in_ref) CROSS JOIN seeds
    ), ppos AS (
      SELECT v.tok, v.in_ref, {_BLOOM_POS_SQL.replace('tok', 'v.tok')} AS pos
      FROM vocab v CROSS JOIN seeds
    ), probe AS (
      SELECT tok, in_ref,
             (COUNT(*) = COUNT(bits.pos)) AS member
      FROM ppos LEFT JOIN bits ON ppos.pos = bits.pos
      GROUP BY tok, in_ref
    )
    SELECT tok, in_ref, member,
           (member OR NOT in_ref) AS no_false_negative
    FROM probe
    ORDER BY tok
    """,
)
def sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (Bloom 1970, public): k=3 portable
    hashes into an m=4096-bit array built from the lang='en' token
    set; a probe is a member iff all k bit positions are set. Partial
    filters merge by OR (the DISTINCT over set positions), the
    finished filter is ≤ m rows (broadcastable) regardless of corpus
    size — the structure Spark itself uses for runtime row-level
    filtering in join pushdown. The no-false-negative guarantee is
    materialized per probe and oracle-verified; false POSITIVES are
    allowed by design and visible as member=true, in_ref=false."""
    d = load_table(spark, sf_dir, "documents")
    M, K = 4096, 3
    toks = (
        d.select("lang", F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(
        (F.max(F.when(F.col("lang") == "en", 1).otherwise(0)) == 1).alias("in_ref")
    )

    def positions(tok_col):
        return F.array(
            *[(portable_hash64(tok_col, seed=f"bf{k}") % M) for k in range(K)]
        )

    bits = (
        vocab.filter(F.col("in_ref"))
        .select(F.explode(positions(F.col("tok"))).alias("pos"))
        .distinct()
    )
    ppos = vocab.select("tok", "in_ref", F.explode(positions(F.col("tok"))).alias("pos"))
    probe = (
        ppos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("tok", "in_ref")
        .agg((F.count(F.lit(1)) == F.count("hit")).alias("member"))
    )
    return probe.select(
        "tok",
        "in_ref",
        "member",
        (F.col("member") | ~F.col("in_ref")).alias("no_false_negative"),
    ).orderBy("tok")


@register(
    "text_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), s2 AS (
      SELECT doc_id, sh FROM s WHERE LEN(sh) > 0
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(LEN(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
             LEN(a.sh) AS n_a
      FROM s2 a JOIN s2 b ON a.doc_id != b.doc_id
    )
    SELECT id_a, id_b, n_inter,
           ROUND(CAST(n_inter AS DOUBLE) / n_a, 6) AS containment
    FROM pairs
    WHERE CAST(n_inter AS DOUBLE) / n_a >= 0.5
    ORDER BY id_a, id_b
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC shingle containment C(a→b) = |S(a)∩S(b)| / |S(a)| —
    the near-dup signal Jaccard misses when a short document is
    embedded in a long one (broder containment; the dedup policy for
    quote-heavy corpora). Scale shape: NOT the oracle's all-pairs
    cross join — shingles explode once and intersections come from a
    shingle EQUI-join (cost ∝ matching shingle pairs), with per-doc
    set sizes broadcast back; the same plan runs unbounded with a
    band-bucket prefilter; the oracle runs the transparent quadratic
    all-pairs formulation over the sf corpus.

    INPUT-SIZE GUARD (VERDICT r8 wrong-#4): this row exists as the
    bounded twin whose ORACLE is corpus-quadratic — the sf1 audits
    skip it deliberately, and the guard makes the skip structural: an
    sf10 audit (or any caller) pointing it at a corpus past the bound
    fails fast with a pointer to the registered scale path instead of
    melting the oracle box."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    if n_docs > 20_000:
        raise ValueError(
            f"text_containment is the bounded quadratic-oracle twin "
            f"(corpus={n_docs} docs > 20000 bound); run "
            f"text_containment_prefiltered — the registered scale path "
            f"with identical output on band-candidate pairs"
        )
    sh = d.select("doc_id", F.explode(shingle_set(F.col("text"))).alias("sh"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = inter.join(
        F.broadcast(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a")),
        "id_a",
    )
    c = F.col("n_inter").cast("double") / F.col("n_a")
    return (
        out.filter(c >= 0.5)
        .select("id_a", "id_b", "n_inter", F.round(c, 6).alias("containment"))
        .orderBy("id_a", "id_b")
    )


_CONTAIN_PRE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), s2 AS (
      SELECT doc_id, sh FROM s WHERE LEN(sh) > 0
    ), sig AS (
      SELECT doc_id, [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s2
    ), banded AS (
      SELECT doc_id, b.band_id, sig[b.band_id + 1] AS band_val
      FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band_id) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ), both_dir AS (
      SELECT id_a, id_b FROM cand
      UNION ALL
      SELECT id_b AS id_a, id_a AS id_b FROM cand
    ), pairs AS (
      SELECT p.id_a, p.id_b,
             CAST(LEN(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
             LEN(sa.sh) AS n_a
      FROM both_dir p
      JOIN s2 sa ON sa.doc_id = p.id_a
      JOIN s2 sb ON sb.doc_id = p.id_b
    )
    SELECT id_a, id_b, n_inter,
           ROUND(CAST(n_inter AS DOUBLE) / n_a, 6) AS containment
    FROM pairs
    WHERE CAST(n_inter AS DOUBLE) / n_a >= 0.5
    ORDER BY id_a, id_b
    """


@register("text_containment_prefiltered", oracle=_CONTAIN_PRE_ORACLE)
def text_containment_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of text_containment, now a registered default
    (VERDICT r6 #2): asymmetric containment C(a→b) = |S(a)∩S(b)|/|S(a)|
    computed ONLY for minhash band-bucket candidate pairs (8 hashes ×
    1-row bands — ≥80% recall of containment-≥0.5 pairs, CI-gated in
    tests/test_scale_growth.py). Unlike text_containment's global
    shingle equi-join (cost ∝ matching shingle pairs, measured ~n^1.6
    on the synth corpus), this plan is candidate-bound: the banded
    equi-join generates pairs at Σ|bucket|² cost, both orientations of
    each candidate join their (bounded, per-doc) shingle SETS back by
    id, and the intersection is a per-pair array_intersect — corpus-
    linear for bounded-duplication corpora, and the variant the sf1
    (10×) audit runs. The prefilter IS part of the semantics: the
    oracle mirrors the identical 8 band buckets (same md5-window
    minhash), so recall loss vs the exhaustive form is pinned, not
    hidden. Shares the warm signature index with dedup_minhash_lsh
    (same cache_key) — one index, many dedup policies."""
    d = load_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(
        d, shingle_n=3, num_hashes=8, band_rows=1, cache_key=sf_dir
    )
    both = cand.select("id_a", "id_b").unionByName(
        cand.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    shsets = d.select(
        "doc_id", shingle_set(F.col("text")).alias("sh")
    ).filter(F.size("sh") > 0)
    pairs = both.join(
        shsets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        shsets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    c = n_inter.cast("double") / F.size("sh_a")
    return (
        pairs.filter(c >= 0.5)
        .select(
            "id_a",
            "id_b",
            n_inter.alias("n_inter"),
            F.round(c, 6).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


_CONTAIN_SLICE_DOCS = 200

_CONTAIN_SLICE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), s2 AS (
      SELECT doc_id, sh FROM s WHERE LEN(sh) > 0
    ), a AS (
      SELECT doc_id, sh FROM s2 WHERE doc_id < {_CONTAIN_SLICE_DOCS}
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(LEN(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
             LEN(a.sh) AS n_a
      FROM a JOIN s2 b ON a.doc_id != b.doc_id
    )
    SELECT id_a, id_b, n_inter,
           ROUND(CAST(n_inter AS DOUBLE) / n_a, 6) AS containment
    FROM pairs
    WHERE CAST(n_inter AS DOUBLE) / n_a >= 0.5
    ORDER BY id_a, id_b
    """


@register("text_containment_slice", oracle=_CONTAIN_SLICE_ORACLE)
def text_containment_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXHAUSTIVE containment with id_a pinned to a deterministic
    slice (VERDICT r12 #6): C(a→b) for every a in the absolute prefix
    doc_id < 200 (_CONTAIN_SLICE_DOCS) against the WHOLE corpus — no minhash
    prefilter, so unlike text_containment_prefiltered this row carries
    the exhaustive containment SEMANTICS all the way to the sf1
    audit: the oracle's all-pairs form is quadratic only over the
    slice (|slice| × n list intersections — 10M at the 50k-doc
    replica, minutes not days), which is exactly why the parent
    text_containment row must stay an sf1-audit skip while this one
    runs. Same 0.5 threshold, same shingle algebra, same global
    shingle equi-join plan shape as the parent (slice side exploded
    and joined on the shingle key, per-doc sizes broadcast back —
    cost ∝ slice-side matching shingle pairs, never corpus²); the
    slice is an ABSOLUTE id prefix, so every SF checks the identical
    probe docs against a growing corpus — the decontamination probe
    shape (is any of these N pinned docs contained in the crawl?)."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(shingle_set(F.col("text"))).alias("sh"))
    a_sh = sh.filter(F.col("doc_id") < _CONTAIN_SLICE_DOCS)
    sizes_a = a_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    inter = (
        a_sh.alias("a")
        .join(sh.alias("b"), "sh")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = inter.join(
        F.broadcast(sizes_a.withColumnRenamed("doc_id", "id_a")), "id_a"
    )
    c = F.col("n_inter").cast("double") / F.col("n_a")
    return (
        out.filter(c >= 0.5)
        .select("id_a", "id_b", "n_inter", F.round(c, 6).alias("containment"))
        .orderBy("id_a", "id_b")
    )


_SIMHASH_BANDS = 4
_SIMHASH_BAND_BITS = 4
_SIMHASH_MAXHAM = 3


def _simhash_hamming_oracle() -> str:
    """Candidate pairs share >= 1 of 4 4-bit bands (pigeonhole: any
    pair at hamming <= 3 differs in at most 3 bands), verified by
    exact bit_count(xor)."""
    return f"""
    WITH sig AS (
      {_simhash_oracle().strip()}
    ), banded AS (
      SELECT sh.id, sh.simhash, b.band_id,
             (sh.simhash >> (b.band_id * {_SIMHASH_BAND_BITS}))
               & {(1 << _SIMHASH_BAND_BITS) - 1} AS band_val
      FROM sig sh CROSS JOIN (
        SELECT unnest(range({_SIMHASH_BANDS})) AS band_id
      ) b
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id
     AND a.band_val = b.band_val
     AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAXHAM}
    ORDER BY id_a, id_b
    """


@register("dedup_simhash_hamming", oracle=_simhash_hamming_oracle())
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup JOIN (Manku et al., WWW'07, public): find all
    doc pairs within hamming distance 3 of each other's 16-bit
    fingerprint, without an all-pairs comparison. Band blocking makes
    it an equi-join: split the fingerprint into 4 bands; a pair at
    hamming <= 3 has all 3 differing bits in at most 3 bands, so by
    pigeonhole it AGREES exactly on at least one band -> candidates =
    equi-join on (band_id, band_val), verified by exact
    bit_count(xor) <= 3, deduped on the pair key. Scale: the join key
    is the band value -- the plan is the minhash-LSH banded shape, with
    the same property that pair cost is Sum over buckets of |bucket|^2,
    not corpus^2. Production geometry widens the fingerprint (64-bit,
    4x16-bit bands -> 65536 buckets/band, Manku's deployed config);
    the plan is identical, only the literals change, and the simhash
    builder (operators/dedup.py simhash) takes bits as a parameter.

    MEASURED DEGENERACY (r6 large-SF audit): on the low-entropy
    testdata vocabulary (~31 tokens) the 16-bit registry geometry is
    near-degenerate -- 1,833,396 pairs at 5,000 docs (hash-green vs
    the oracle, AUDIT_r6_sf01.txt), i.e. ~7% of ALL pairs fall within
    hamming 3, and at the 50k sf1 corpus the OUTPUT itself (~100x
    more pairs) exceeds driver collect limits. That is a property of
    "report every pair within hamming<=3" on a corpus whose
    fingerprints barely differ, not of the plan: pair cost stays
    Sum|bucket|^2. At scale the answer is the documented 64-bit
    geometry (drives bucket collision rates down ~4 orders), plus a
    sink -- not a collect -- for the pair stream."""
    d = load_table(spark, sf_dir, "documents")
    return hamming_pairs(
        simhash(d, bits=16),
        bits=16,
        n_bands=_SIMHASH_BANDS,
        max_hamming=_SIMHASH_MAXHAM,
        id_col="id",
        hash_col="simhash",
    ).orderBy("id_a", "id_b")


_IMAGE_DHASH_ORACLE = """
    WITH h AS (
      SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 39), idx ->
        CASE WHEN ord(substr(text, (idx // 8) * 9 + (idx % 8) + 1, 1))
                < ord(substr(text, (idx // 8) * 9 + (idx % 8) + 2, 1))
        THEN CAST(1 AS BIGINT) << idx ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
          AS dhash
      FROM documents WHERE strlen(text) >= 45
    ), bands AS (
      SELECT doc_id, dhash, b.band_id,
             (dhash >> (b.band_id * 10)) & 1023 AS band_val
      FROM h CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS band_id) b
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
             x.dhash AS ha, y.dhash AS hb
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    ORDER BY id_a, id_b
    """


@register("dedup_image_dhash", oracle=_IMAGE_DHASH_ORACLE)
def dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (VERDICT r11 #5 — closes the loop
    between the multimodal column leg and the dedup stack): the
    documents' byte payloads stand in for 9-wide grayscale images
    (operators/multimodal.media_table_from_documents — a real decoder
    +resample slots in at the reshape), each image is reduced to the
    classic 40-bit difference hash (dHash: one horizontal-gradient bit
    per adjacent pixel pair over a 9x5 grid; public average/difference-
    hash family) inside an Arrow-vectorized mapInPandas, and near-dup
    pairs at hamming <= 3 come from the generic banded hamming
    equi-join (operators/dedup.py hamming_pairs, 4 bands x 10 bits —
    pigeonhole-complete, pair cost Sum|bucket|^2 never corpus^2).
    The oracle mirrors the whole pixel algebra with ord(substr())
    gradient bits (valid because stand-in payloads are the ASCII text
    — the mm_frame_extract discipline) and the identical band join.
    Measured volumes: 25 pairs / 2.7k candidates at sf0.01, 278 /
    268k at sf0.1, 3,641 / 19.6M at the 50k-doc sf1 replica — the
    banded join stays sub-quadratic where all-pairs would be 1.2e9
    comparisons at sf1. Scale: the hash is row-linear with no
    shuffle; candidates shuffle on band values only — the minhash-LSH
    shape, so a 100 TB image corpus dedups at Sum|bucket|^2 cost with
    real decode slotting in executor-side."""
    from fairy_spark.operators.multimodal import (
        image_dhash,
        media_table_from_documents,
    )

    # BYTE-length bound (ADVICE r12): image_dhash drops payloads on
    # byte length, so the pre-filter must count bytes too —
    # F.octet_length here, strlen() (bytes) in the oracle. The
    # ord(substr) pixel algebra additionally assumes the stand-in
    # payloads are single-byte text (asserted by
    # media_table_from_documents's discipline + the ASCII-fixture pin
    # in tests/test_similarity.py); a real decoder replaces it anyway.
    docs = load_table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 45)
    media = media_table_from_documents(docs)
    h = image_dhash(media, in_w=9, rows=5)
    return hamming_pairs(
        h, bits=40, n_bands=4, max_hamming=3, id_col="media_id", hash_col="dhash"
    ).orderBy("id_a", "id_b")


_DEDUP_LINES_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), t AS (
      SELECT doc_id,
             list_transform(generate_series(0, (len(tk) + 11) // 12 - 1),
               g -> array_to_string(tk[g*12+1 : g*12+12], ' ')) AS lines
      FROM toks
    ), l AS (
      SELECT doc_id,
             UNNEST(generate_series(1, len(lines))) - 1 AS line_no,
             UNNEST(lines) AS line
      FROM t
    ), s AS (
      SELECT doc_id, line_no, line,
             ROW_NUMBER() OVER (PARTITION BY md5(line)
                                ORDER BY doc_id, line_no) AS rnk
      FROM l
    ), k AS (
      SELECT doc_id, line_no, line,
             (LENGTH(line) < 1 OR rnk = 1) AS keep
      FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY line_no), '') AS kept_text
    FROM k GROUP BY doc_id ORDER BY doc_id
    """


@register("dedup_lines_exact", oracle=_DEDUP_LINES_ORACLE)
def dedup_lines_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact duplicate-LINE removal (VERDICT r11 #6 —
    RefinedWeb's line-dedup stage, Penedo et al. 2306.01116: repeated
    boilerplate lines are dropped BEFORE document-level passes,
    because shared headers/footers make unrelated pages minhash-
    similar; see operators/dedup.py dedup_lines for the stage-order
    note). The fixture corpus has no newlines, so the query first
    segments each doc into deterministic 12-token pseudo-lines
    (identical slice algebra on both engines) joined by chr(10) —
    production text arrives newline-delimited and skips that step.
    The operator explodes lines, hash-aggs on the md5 digest (the
    shuffle ships 16-byte keys, never the boilerplate strings),
    keeps each line's first corpus-wide occurrence (min (doc_id,
    line_no)), and reassembles per-doc kept_text in original order
    via the sorted-struct collect discipline. Empty lines are never
    deduped (formatting, not boilerplate). At sf0.01 the corpus holds
    2,477 lines of which 110 are corpus-wide repeats — non-degenerate
    with zero exact-dup docs. Scale: corpus-linear, one digest
    hash-agg + one digest equi-join + one per-doc agg; a billion-fold
    boilerplate line lands on ONE digest key reduced by min(), never
    materialized as pairs. DuckDB knife-edge handled: string_agg over
    zero kept rows is NULL, COALESCE'd to '' to match Spark's
    array_join of an empty array."""
    from fairy_spark.operators.dedup import dedup_lines

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(0, (size(split(text, ' ')) + 11) div 12 - 1), "
            "g -> array_join(slice(split(text, ' '), g*12+1, 12), ' ')), chr(10))"
        ).alias("text"),
    )
    return dedup_lines(docs).orderBy("doc_id")


_DEDUP_LINES_APPEND_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), t AS (
      SELECT doc_id,
             list_transform(generate_series(0, (len(tk) + 11) // 12 - 1),
               g -> array_to_string(tk[g*12+1 : g*12+12], ' ')) AS lines
      FROM toks
    ), thr AS (
      SELECT CAST((MAX(doc_id) + 1) * 4 // 5 AS BIGINT) AS thr FROM documents
    ), l AS (
      SELECT doc_id,
             UNNEST(generate_series(1, len(lines))) - 1 AS line_no,
             UNNEST(lines) AS line
      FROM t
    ), s AS (
      SELECT doc_id, line_no, line,
             ROW_NUMBER() OVER (PARTITION BY md5(line)
                                ORDER BY doc_id, line_no) AS rnk
      FROM l
    ), k AS (
      SELECT doc_id, line_no, line,
             (LENGTH(line) < 1 OR rnk = 1) AS keep
      FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY line_no), '') AS kept_text
    FROM k, thr WHERE k.doc_id >= thr.thr
    GROUP BY doc_id ORDER BY doc_id
    """


@register("dedup_lines_incremental", oracle=_DEDUP_LINES_APPEND_ORACLE)
def dedup_lines_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental line dedup (the minhash_lsh_append symmetry at the
    line level — r12, after VERDICT r11 #6): the corpus splits at the
    80th-percentile doc_id (a 1-row scalar carry, proportional at
    every SF) into an already-ingested BASE and a DELTA batch whose
    ids all sort after the base — the ingest contract under which
    first-occurrence survivorship is prefix-stable. operators/dedup.py
    dedup_lines_append cleans the delta against ONE distinct-digest
    projection of the base (at 100 TB: the durable line index as a
    bucketed table; per-batch cost |delta| + one digest anti-probe,
    independent of base size) with no base re-dedup. The ORACLE runs
    the FULL dedup_lines algebra over base ∪ delta restricted to
    delta docs — so every hash-green run re-proves the exact
    invariant append(base, delta) == full-build |delta|, the same
    proof shape ml_ann_ivf_append uses."""
    from fairy_spark.operators.dedup import dedup_lines_append

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(0, (size(split(text, ' ')) + 11) div 12 - 1), "
            "g -> array_join(slice(split(text, ' '), g*12+1, 12), ' ')), chr(10))"
        ).alias("text"),
    )
    thr = docs.agg(F.expr("(max(doc_id) + 1) * 4 div 5").alias("_thr"))
    base = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("_thr")).drop("_thr")
    delta = docs.join(F.broadcast(thr)).filter(F.col("doc_id") >= F.col("_thr")).drop("_thr")
    return dedup_lines_append(base, delta).orderBy("doc_id")


_DEDUP_LINES_NEAR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), t AS (
      SELECT doc_id,
             list_transform(generate_series(0, (len(tk) + 11) // 12 - 1),
               g -> array_to_string(tk[g*12+1 : g*12+12], ' ')) AS lines
      FROM toks
    ), l AS (
      SELECT doc_id,
             UNNEST(generate_series(1, len(lines))) - 1 AS line_no,
             UNNEST(lines) AS line
      FROM t
    ), s AS (
      SELECT doc_id, line_no, line, md5(line) AS dig,
             ROW_NUMBER() OVER (PARTITION BY md5(line)
                                ORDER BY doc_id, line_no) AS rnk
      FROM l
    ), d AS (
      SELECT dig, doc_id AS f_id, line_no AS f_ln, line
      FROM s WHERE rnk = 1 AND LENGTH(line) >= 1
    ), shs AS (
      SELECT dig, f_id, f_ln,
             list_distinct(list_transform(
               generate_series(1, greatest(len(ltk)-2, 0)),
               i -> array_to_string(ltk[i:i+2], ' '))) AS sh
      FROM (SELECT dig, f_id, f_ln,
                   string_split_regex(lower(line), '\\s+') AS ltk FROM d)
    ), g AS MATERIALIZED (
      SELECT dig, f_id, f_ln, sh, len(sh) AS nsh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM shs WHERE len(sh) >= 1
    ), bands AS MATERIALIZED (
      SELECT dig, f_id, f_ln, sh, nsh, b.band, sig[b.band] AS bv
      FROM g CROSS JOIN (SELECT UNNEST(generate_series(1, 8)) AS band) b
    ), dropped AS (
      SELECT DISTINCT y.dig
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bv = y.bv
       AND (x.f_id < y.f_id OR (x.f_id = y.f_id AND x.f_ln < y.f_ln))
      WHERE 2 * len(list_intersect(x.sh, y.sh))
              >= 1 * (x.nsh + y.nsh - len(list_intersect(x.sh, y.sh)))
    ), k AS (
      SELECT s.doc_id, s.line_no, s.line,
             (LENGTH(s.line) < 1 OR (s.rnk = 1 AND dr.dig IS NULL)) AS keep
      FROM s LEFT JOIN dropped dr ON s.dig = dr.dig
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY line_no), '') AS kept_text
    FROM k GROUP BY doc_id ORDER BY doc_id
    """


@register("dedup_lines_near", oracle=_DEDUP_LINES_NEAR_ORACLE)
def dedup_lines_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY line dedup (VERDICT r12 #3 — the near-dup extension of
    dedup_lines_exact, same 12-token pseudo-line segmentation): a line
    is dropped when an EARLIER line is near-identical — shingle-set
    Jaccard >= 1/2, verified by the exact cross-multiplied integer
    form — not only when it repeats byte-for-byte; the public
    RefinedWeb/CCNet treatment of lightly-mutated boilerplate. STAGE
    ORDER note (operators/dedup.dedup_lines_near): line dedup — exact
    AND near — runs BEFORE document-level passes. Plan: exact copies
    collapse onto their md5 digest FIRST (LSH is quadratic-proof
    against exact boilerplate skew), per-DISTINCT-line minhash over
    3-token shingles, 8×1-row banded equi-join, greedy
    transitive-closure-free survivorship (drop on ANY earlier
    verified near-match), per-doc reassembly in original order. The
    synthetic corpus's mutated dup docs (~10% of docs copy an earlier
    token stream mutating ~1/10 positions) give honest per-line
    near-dups: a 12-token line with ONE mutated position shares 7 of
    13 shingles (J = 0.538 >= 1/2 → dropped), two mutations fall to
    J ≈ 0.3 (< 1/2 → kept), so the threshold separates real mutation
    strata, not hash noise. The oracle mirrors every stage INCLUDING
    the banded join (the _IMAGE_DHASH_ORACLE discipline — candidates
    via the same (band, value) equi-join, so it stays sf1-runnable
    instead of O(n_distinct²)). Scale: corpus-linear — one digest
    hash-agg, row-linear signatures over distinct lines only, bucket-
    blocked candidates (Σ|bucket|², min-shingle buckets are bounded
    by per-shingle corpus frequency), one digest equi-join back."""
    from fairy_spark.operators.dedup import dedup_lines_near as _lines_near

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(0, (size(split(text, ' ')) + 11) div 12 - 1), "
            "g -> array_join(slice(split(text, ' '), g*12+1, 12), ' ')), chr(10))"
        ).alias("text"),
    )
    return _lines_near(docs).orderBy("doc_id")


_DEDUP_LINES_NEAR_INC_ORACLE = (
    _DEDUP_LINES_NEAR_ORACLE.replace(
        "    ), s AS (",
        """    ), thr AS (
      SELECT CAST((MAX(doc_id) + 1) * 4 // 5 AS BIGINT) AS thr FROM documents
    ), s AS (""",
    ).replace(
        "FROM k GROUP BY doc_id ORDER BY doc_id",
        "FROM k, thr WHERE k.doc_id >= thr.thr\n"
        "    GROUP BY doc_id ORDER BY doc_id",
    )
)
assert "thr AS (" in _DEDUP_LINES_NEAR_INC_ORACLE
assert "WHERE k.doc_id >= thr.thr" in _DEDUP_LINES_NEAR_INC_ORACLE


@register("dedup_lines_near_incremental", oracle=_DEDUP_LINES_NEAR_INC_ORACLE)
def dedup_lines_near_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY line dedup (r13 — completes the line-dedup
    symmetry: exact/near × full/incremental): the corpus splits at the
    80th-percentile doc_id into BASE and DELTA (the dedup_lines_
    incremental split) and operators/dedup.dedup_lines_near_append
    cleans the delta against the base's distinct-line signature index
    with NO base re-dedup. Prefix-stability is exactly why dedup_
    lines_near's survivorship is GREEDY (a line's outcome depends
    only on earlier lines — a clustered rule would let a late arrival
    merge base clusters and force per-batch base re-dedup, the scale
    anti-pattern), so append(base, delta) ==
    dedup_lines_near(base ∪ delta)|delta holds exactly, and the
    ORACLE — the full fuzzy algebra restricted to delta docs —
    re-proves that invariant on every green run. Per-batch cost:
    |delta| explode + one digest agg + signatures for NEW distinct
    lines only (exact base repeats drop before any fuzzy work) + a
    banded probe of the durable per-distinct-line signature index."""
    from fairy_spark.operators.dedup import dedup_lines_near_append

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(0, (size(split(text, ' ')) + 11) div 12 - 1), "
            "g -> array_join(slice(split(text, ' '), g*12+1, 12), ' ')), chr(10))"
        ).alias("text"),
    )
    thr = docs.agg(F.expr("(max(doc_id) + 1) * 4 div 5").alias("_thr"))
    base = docs.join(F.broadcast(thr)).filter(F.col("doc_id") < F.col("_thr")).drop("_thr")
    delta = docs.join(F.broadcast(thr)).filter(F.col("doc_id") >= F.col("_thr")).drop("_thr")
    return dedup_lines_near_append(base, delta).orderBy("doc_id")


def _audio_energy_sql(w: str) -> str:
    """Window-energy Σ(b-128)² for the 2-byte window ``w`` (0-based)
    as exact-integer ord() algebra — the audio analog of the dHash
    pixel oracle."""
    c1 = f"(ord(substr(text, ({w})*2+1, 1)) - 128)"
    c2 = f"(ord(substr(text, ({w})*2+2, 1)) - 128)"
    return f"({c1} * {c1} + {c2} * {c2})"


_AUDIO_FP_ORACLE = f"""
    WITH h AS (
      SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 39), idx ->
        CASE WHEN {_audio_energy_sql('idx')} < {_audio_energy_sql('idx+1')}
        THEN CAST(1 AS BIGINT) << idx ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
          AS fp
      FROM documents WHERE strlen(text) >= 82
    ), bands AS (
      SELECT doc_id, fp, b.band_id,
             (fp >> (b.band_id * 10)) & 1023 AS band_val
      FROM h CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS band_id) b
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
             x.fp AS ha, y.fp AS hb
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    ORDER BY id_a, id_b
    """


@register("dedup_audio_fingerprint", oracle=_AUDIO_FP_ORACLE)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup (r12 — the audio leg joined to the dedup stack,
    completing the image/audio symmetry with dedup_image_dhash): the
    documents' byte payloads stand in for centered 8-bit PCM
    (operators/multimodal.audio_energy_windows' fake-decode
    discipline), each clip reduces to the Haitsma–Kalker
    energy-difference fingerprint (public, 2002: the SIGN of the
    energy delta between consecutive windows is the classic
    noise-robust bit) — 41 two-byte windows → exact integer energies
    Σ(b-128)² → 40 sign bits in one BIGINT, Arrow-vectorized
    (multimodal.audio_fingerprint) — and near-dup pairs at hamming <=
    3 come from the SAME generic banded join as images
    (dedup.hamming_pairs, 4×10-bit bands). The oracle mirrors the
    whole energy algebra via ord(substr) integer squares plus the
    identical band self-join. Measured: 24 pairs / 2.8k candidates at
    sf0.01, 274 / 293k at sf0.1, 4,903 / 26M at the 50k sf1 replica
    (vs 1.2e9 all-pairs). Scale: fingerprints are row-linear and
    shuffle-free; only 10-bit band values shuffle; at a 100 TB audio
    corpus a real PCM decoder slots into the mapInPandas body and the
    production lever is the same fingerprint-widening documented for
    simhash64/dHash (hamming_pairs takes bits/n_bands as
    parameters)."""
    from fairy_spark.operators.multimodal import (
        audio_fingerprint,
        media_table_from_documents,
    )

    # BYTE-length bound (ADVICE r12) — same discipline as
    # dedup_image_dhash: octet_length on the engine side, strlen()
    # (bytes) in the oracle, single-byte stand-in payloads pinned by
    # the ASCII-fixture test.
    docs = load_table(spark, sf_dir, "documents").filter(F.octet_length("text") >= 82)
    media = media_table_from_documents(docs)
    fp = audio_fingerprint(media, n_windows=41, window_bytes=2)
    return hamming_pairs(
        fp, bits=40, n_bands=4, max_hamming=3, id_col="media_id", hash_col="fingerprint"
    ).orderBy("id_a", "id_b")


_SIMHASH_SCALE_BITS = 32
_SIMHASH_SCALE_BAND_BITS = 8
_SIMHASH_SCALE_BANDS = _SIMHASH_SCALE_BITS // _SIMHASH_SCALE_BAND_BITS


def _simhash_scale_oracle() -> str:
    """32-bit fingerprint, 4 bands x 8 bits — same pigeonhole as the
    16-bit demo oracle, only the geometry literals change."""
    return f"""
    WITH sig AS (
      {_simhash_oracle(bits=_SIMHASH_SCALE_BITS).strip()}
    ), banded AS (
      SELECT sh.id, sh.simhash, b.band_id,
             (sh.simhash >> (b.band_id * {_SIMHASH_SCALE_BAND_BITS}))
               & {(1 << _SIMHASH_SCALE_BAND_BITS) - 1} AS band_val
      FROM sig sh CROSS JOIN (
        SELECT unnest(range({_SIMHASH_SCALE_BANDS})) AS band_id
      ) b
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id
     AND a.band_val = b.band_val
     AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAXHAM}
    ORDER BY id_a, id_b
    """


@register("dedup_simhash_scale", oracle=_simhash_scale_oracle())
def dedup_simhash_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REGISTERED SCALE DEFAULT for simhash near-dup (VERDICT r7
    #3): 32-bit fingerprint in 4 8-bit bands, hamming <= 3 — the
    geometry SCALE.md's r6 measurement table shows suppressing the
    16-bit demo setting's pair volume 186-189x, STABLE across a x4
    corpus growth (5k docs: 935,852 pairs -> 5,018; 20k: 15.1M ->
    80k), because 256 buckets/band cuts random band collisions ~4
    orders vs 16 buckets. Same pigeonhole plan as
    `dedup_simhash_hamming` (any pair at hamming <= 3 agrees exactly
    on >= 1 of 4 bands -> banded equi-join, exact bit_count verify,
    pair cost Sum|bucket|^2) — that query remains the bounded
    small-corpus twin; a user copying ONE simhash query should copy
    this one. Production would widen further to Manku et al.'s 64-bit
    / 4x16-bit deployed config — same plan, bigger literals (64-bit
    needs the fingerprint split across two BIGINT halves to dodge the
    2^63 sign bit; the 32-bit form keeps the cross-engine arithmetic
    exactly representable, which is what makes this row
    hash-checkable)."""
    d = load_table(spark, sf_dir, "documents")
    return hamming_pairs(
        simhash(d, bits=_SIMHASH_SCALE_BITS),
        bits=_SIMHASH_SCALE_BITS,
        n_bands=_SIMHASH_SCALE_BANDS,
        max_hamming=_SIMHASH_MAXHAM,
        id_col="id",
        hash_col="simhash",
    ).orderBy("id_a", "id_b")


_SIMHASH64_BAND_BITS = 8
_SIMHASH64_BANDS = 8  # bands 0-3 over simhash_lo, 4-7 over simhash_hi


def _simhash64_oracle() -> str:
    """Two independently seeded 32-bit fingerprints = one 64-bit
    simhash split across the sign bit; 8 bands x 8 bits; hamming =
    bit_count(xor(lo)) + bit_count(xor(hi))."""
    hlo = portable_hash_sql("tok", "simhash64lo")
    hhi = portable_hash_sql("tok", "simhash64hi")
    sums = ", ".join(
        f"SUM(CASE WHEN (h{half} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS {half}{j}"
        for half in ("lo", "hi")
        for j in range(32)
    )
    combine_lo = " + ".join(
        f"(CASE WHEN lo{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    combine_hi = " + ".join(
        f"(CASE WHEN hi{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
    )
    mask = (1 << _SIMHASH64_BAND_BITS) - 1
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), h AS (
      SELECT id, {hlo} % {1 << 32} AS hlo, {hhi} % {1 << 32} AS hhi FROM toks
    ), sums AS (
      SELECT id, {sums} FROM h GROUP BY id
    ), sig AS (
      SELECT id, CAST({combine_hi} AS BIGINT) AS simhash_hi,
                 CAST({combine_lo} AS BIGINT) AS simhash_lo
      FROM sums
    ), banded AS (
      SELECT sh.id, sh.simhash_hi, sh.simhash_lo, b.band_id,
             CASE WHEN b.band_id < 4
                  THEN (sh.simhash_lo >> (b.band_id * {_SIMHASH64_BAND_BITS})) & {mask}
                  ELSE (sh.simhash_hi >> ((b.band_id - 4) * {_SIMHASH64_BAND_BITS})) & {mask}
             END AS band_val
      FROM sig sh CROSS JOIN (
        SELECT unnest(range({_SIMHASH64_BANDS})) AS band_id
      ) b
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash_lo, b.simhash_lo))
              + bit_count(xor(a.simhash_hi, b.simhash_hi)) AS INTEGER) AS hamming
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id
     AND a.band_val = b.band_val
     AND a.id < b.id
    WHERE bit_count(xor(a.simhash_lo, b.simhash_lo))
        + bit_count(xor(a.simhash_hi, b.simhash_hi)) <= {_SIMHASH_MAXHAM}
    ORDER BY id_a, id_b
    """


@register("dedup_simhash_scale64", oracle=_simhash64_oracle())
def dedup_simhash_scale64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PRODUCTION simhash geometry (VERDICT r8 #3, SCALE.md r8's
    documented pointer, now registered): 64-bit fingerprint — Manku et
    al.'s (WWW'07) deployed crawl-dedup width — at hamming <= 3, via
    the two-BIGINT split (`simhash_hi`/`simhash_lo`, each a seeded
    32-bit half; see operators/dedup.py simhash64) that keeps every
    intermediate exactly representable across Spark, DuckDB and
    pandas, which is what makes THIS row hash-checkable where a raw
    64-bit word would wrap the sign bit. Banding: 8 bands x 8 bits
    (4 per half). Pigeonhole: 3 differing bits touch <= 3 bands, so a
    qualifying pair agrees exactly on >= 5 of 8 — a fortiori >= 1 —
    bands; candidates come from the banded equi-join on
    (band_id, band_val) and are verified by the exact two-half
    bit_count sum. Pair cost stays Sum|bucket|^2 with 256 buckets per
    band over a 64-bit space: at crawl scale the 32-bit geometry
    (`dedup_simhash_scale`, kept as the measured mid twin) saturates —
    ~4B distinct fingerprints — while 64-bit holds collision rates
    down through 100 TB-scale corpora (SCALE.md r9 measures the pair
    suppression vs 32-bit on this corpus). Same single-shuffle
    signature plan; the join is a shuffle equi-join, never broadcast
    (the banded table is O(corpus))."""
    from fairy_spark.operators.dedup import simhash64_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash64_pairs(d, max_hamming=_SIMHASH_MAXHAM).orderBy("id_a", "id_b")


@register(
    "text_bpe_pairs",
    oracle=f"""
    WITH t AS (
      SELECT {_TOKS_SQL} AS toks FROM documents
    ), pairs AS (
      SELECT unnest([toks[i] || ' ' || toks[i + 1]
                     for i in range(1, len(toks))]) AS pair
      FROM t
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 30
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style merge statistics: corpus-wide adjacent-token-pair
    frequencies, top 30 — the inner loop of byte-pair-encoding
    tokenizer training (count pairs, merge the most frequent, repeat)
    done the way a 100 TB corpus forces: per-row pair explosion via a
    higher-order transform (no window, no self-join, no per-row
    Python), ONE hash agg with map-side partial aggregation, and a
    TakeOrderedAndProject top-k instead of a global sort. Per-doc
    fan-out is len(toks)-1 — corpus-linear. A full BPE trainer is
    this query in a driver loop with the merge table broadcast back."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    pairs = F.expr(
        "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
        " (x, i) -> concat(x, ' ', toks[i + 1]))"
    )
    return (
        d.select(toks.alias("toks"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


@register(
    "ml_confusion_matrix",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS n_label,
             ROUND({_COS_SQL}, 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
      WHERE a.vec_id <= 100
    ), ranked AS (
      SELECT query_id, n_label,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    ), votes AS (
      SELECT query_id, n_label, COUNT(*) AS cnt
      FROM ranked WHERE rn <= 5 GROUP BY query_id, n_label
    ), pick AS (
      SELECT query_id,
             ARG_MAX(n_label, cnt*1000 + (999 - n_label)) AS pred_label
      FROM votes GROUP BY query_id
    )
    SELECT a.label AS true_label, p.pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pick p JOIN embeddings a ON a.vec_id = p.query_id
    GROUP BY true_label, p.pred_label
    ORDER BY true_label, p.pred_label
    """,
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the 5-NN majority-vote classifier over a
    100-query evaluation slice — the eval-harness counterpart of
    ml_knn_vote (same deterministic integer vote composite, same
    broadcast-query brute-force top-k), finished with a
    (true, predicted) hash agg. The matrix is |labels|² cells no
    matter the corpus size, so the reduction is never the scale
    problem; the scored candidate set is, and it stays one corpus
    scan with the query side broadcast."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") <= 100)
    nb = brute_force_topk(e, q, k=5)
    lab = e.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label"))
    votes = (
        nb.join(lab, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ordv = F.col("cnt") * 1000 + (999 - F.col("n_label"))
    pick = votes.groupBy("query_id").agg(F.max_by("n_label", ordv).alias("pred_label"))
    truth = q.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return (
        pick.join(truth, "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_label", "pred_label")
    )


@register(
    "text_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents
    ), tc AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY source, tok
    ), s AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clogc
      FROM tc GROUP BY source
    )
    SELECT source, n_tokens, vocab,
           CAST(FLOOR((log2(CAST(n_tokens AS DOUBLE)) - clogc / n_tokens)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS entropy_bits
    FROM s
    ORDER BY source
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the unigram distribution — the
    corpus-diversity signal next to Zipf head and TF stats (a
    low-entropy source is boilerplate/templated; a dedup'd crawl
    should rise). Algebra is arranged for distribution: entropy =
    log2(N) − Σ c·log2(c) / N, so the engine ships exact integer
    counts through ONE (source, token) hash agg and a source-sized
    rollup — no per-token probability column, and only |vocab|
    double terms enter the sum before 6-decimal fixed-point rounding
    absorbs accumulation-order noise."""
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = tc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double"))).alias(
            "clogc"
        ),
    )
    entropy = F.log2(F.col("n_tokens").cast("double")) - F.col("clogc") / F.col(
        "n_tokens"
    )
    return s.select(
        "source",
        "n_tokens",
        "vocab",
        (F.floor(entropy * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0).alias(
            "entropy_bits"
        ),
    ).orderBy("source")


@register(
    "text_bloom_prejoin",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_TOKS_SQL}) AS tok FROM documents
    ), t2 AS (SELECT doc_id, lang, tok FROM toks WHERE tok != ''),
    ref AS (SELECT DISTINCT tok FROM t2 WHERE lang = 'en'),
    q AS (SELECT DISTINCT doc_id, tok FROM t2 WHERE lang != 'en')
    SELECT q.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(COUNT(ref.tok) AS BIGINT) AS n_overlap,
           CAST(FLOOR(CAST(COUNT(ref.tok) AS DOUBLE) / COUNT(*)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS overlap_pct
    FROM q LEFT JOIN ref ON q.tok = ref.tok
    GROUP BY q.doc_id
    ORDER BY q.doc_id
    """,
)
def text_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-ACCELERATED reference-overlap join (the sketch USED in a
    pipeline, not just materialized — sketch_bloom's structure doing
    the job Spark's runtime bloom join pushdown does): non-English
    documents' tokens probe a broadcast 4096-bit Bloom of the English
    reference vocabulary FIRST, and only bloom-positive tokens reach
    the exact shuffle join. Correctness is free by construction — no
    false negatives means the prefilter drops nothing that matters,
    and the exact join kills the false positives — which is precisely
    what the oracle proves: it computes the PLAIN exact overlap with
    no bloom anywhere, so a hash match certifies the accelerated
    plan is semantics-preserving. At 100 TB the win is the shuffle:
    token traffic into the exact join shrinks by the true-negative
    rate (most of a foreign corpus), for the price of one ≤4096-row
    broadcast. Per-doc overlap percentage quantizes from exact
    counts."""
    from fairy_spark.operators.text import portable_hash64, tokenize

    d = load_table(spark, sf_dir, "documents")
    M, K = 4096, 3
    toks = d.select(
        "doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    ref = toks.filter(F.col("lang") == "en").select("tok").distinct()
    q = (
        toks.filter(F.col("lang") != "en")
        .select("doc_id", "tok")
        .distinct()
    )

    def positions(tok_col):
        return F.array(
            *[(portable_hash64(tok_col, seed=f"bf{k}") % M) for k in range(K)]
        )

    bits = (
        ref.select(F.explode(positions(F.col("tok"))).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    bloom_pass = (
        q.select("doc_id", "tok", F.explode(positions(F.col("tok"))).alias("pos"))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id", "tok")
        .agg((F.count(F.lit(1)) == F.count("hit")).alias("member"))
        .filter(F.col("member"))
        .select("doc_id", "tok")
    )
    overlap = (
        bloom_pass.join(ref.withColumnRenamed("tok", "r_tok"),
                        F.col("tok") == F.col("r_tok"), "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    totals = q.groupBy(F.col("doc_id").alias("t_did")).agg(
        F.count(F.lit(1)).alias("n_toks")
    )
    pct = F.floor(
        F.col("n_overlap").cast("double") / F.col("n_toks") * 1000000 + F.lit(0.5)
    ).cast("bigint") / 1000000.0
    return (
        totals.join(overlap, F.col("t_did") == F.col("doc_id"), "left")
        .select(
            F.col("t_did").alias("doc_id"),
            "n_toks",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        )
        .withColumn("n_overlap", F.col("n_overlap").cast("bigint"))
        .withColumn("overlap_pct", pct)
        .orderBy("doc_id")
    )


@register(
    "text_bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(
               list_filter(generate_series(1, len(t) - 1), i -> t[i] != '' AND t[i+1] != ''),
               i -> t[i] || ' ' || t[i + 1])) AS pair
      FROM toks
    ), train AS (SELECT pair FROM bg WHERE doc_id % 2 = 0),
    test  AS (SELECT doc_id, pair FROM bg WHERE doc_id % 2 = 1),
    c2 AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c FROM train GROUP BY pair),
    c1 AS (
      SELECT string_split(pair, ' ')[1] AS prev, CAST(SUM(c) AS BIGINT) AS c1
      FROM c2 GROUP BY prev
    ), vv AS (
      SELECT CAST(COUNT(DISTINCT string_split(pair, ' ')[1]) AS BIGINT) AS v FROM c2
    ), seen AS (
      SELECT c2.pair,
             CAST(FLOOR(LN((c2.c + 1.0) / (c1.c1 + vv.v)) * 1000000 + 0.5) AS BIGINT)
               AS lp6
      FROM c2 JOIN c1 ON string_split(c2.pair, ' ')[1] = c1.prev CROSS JOIN vv
    ), unseen AS (
      SELECT c1.prev,
             CAST(FLOOR(LN(1.0 / (c1.c1 + vv.v)) * 1000000 + 0.5) AS BIGINT) AS lpu6
      FROM c1 CROSS JOIN vv
    ), oov AS (
      SELECT CAST(FLOOR(LN(1.0 / vv.v) * 1000000 + 0.5) AS BIGINT) AS lpo6 FROM vv
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(SUM(COALESCE(seen.lp6, unseen.lpu6, oov.lpo6)) AS BIGINT)
                AS DOUBLE) / CAST(COUNT(*) * 1000000 AS BIGINT) AS mean_logprob
    FROM test t
    LEFT JOIN seen ON t.pair = seen.pair
    LEFT JOIN unseen ON string_split(t.pair, ' ')[1] = unseen.prev
    CROSS JOIN oov
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-1 smoothing (the KenLM-
    lite step up from text_quality_logprob's unigram LM): even docs
    train bigram/left-context counts, odd docs score mean
    log P(wᵢ | wᵢ₋₁) with a three-tier backoff — observed bigram,
    known context (unseen continuation), out-of-vocabulary context —
    every tier's log quantized ONCE per MODEL CELL (bigram-, context-,
    and 1-row tables; never per test token), so per-doc totals are
    exact integer sums and the mean is one IEEE division. Bigram
    extraction is the BPE per-row HOF (adjacent pairs, fan-out
    len−1, no window). Scale: the model is observed-bigram-bounded
    (vocab² worst case), the context table vocab-bounded — both
    broadcastable for real vocabularies; scoring is two equi joins +
    one per-doc hash agg, corpus-linear."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    pair_expr = F.expr(
        "transform(filter(sequence(1, size(t) - 1),"
        " i -> t[i - 1] != '' AND t[i] != ''),"
        " i -> concat(t[i - 1], ' ', t[i]))"
    )
    bg = (
        d.select("doc_id", toks.alias("t"))
        .select("doc_id", F.explode(pair_expr).alias("pair"))
    )
    train = bg.filter(F.col("doc_id") % 2 == 0)
    test = bg.filter(F.col("doc_id") % 2 == 1)
    c2 = train.groupBy("pair").agg(F.count(F.lit(1)).alias("c"))
    prev_of = F.split(F.col("pair"), " ").getItem(0)
    c1 = c2.groupBy(prev_of.alias("prev")).agg(F.sum("c").alias("c1"))
    vv = c2.select(prev_of.alias("p")).distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    seen = (
        c2.join(c1, prev_of == F.col("prev"))
        .crossJoin(F.broadcast(vv))
        .select(
            F.col("pair").alias("s_pair"),
            F.floor(
                F.log((F.col("c") + 1.0) / (F.col("c1") + F.col("v"))) * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lp6"),
        )
    )
    unseen = c1.crossJoin(F.broadcast(vv)).select(
        F.col("prev").alias("u_prev"),
        F.floor(F.log(1.0 / (F.col("c1") + F.col("v"))) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("lpu6"),
    )
    oov = vv.select(
        F.floor(F.log(1.0 / F.col("v")) * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("lpo6")
    )
    return (
        test.join(F.broadcast(seen), F.col("pair") == F.col("s_pair"), "left")
        .join(F.broadcast(unseen), prev_of == F.col("u_prev"), "left")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(
                    F.coalesce(F.col("lp6"), F.col("lpu6"), F.col("lpo6"))
                ).cast("double")
                / (F.count(F.lit(1)) * 1000000)
            ).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_rouge_recall",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), bg AS (
      SELECT doc_id,
             list_distinct(list_transform(
               list_filter(generate_series(1, len(t) - 1),
                           i -> t[i] != '' AND t[i+1] != ''),
               i -> t[i] || ' ' || t[i + 1])) AS grams
      FROM toks
    ), ref AS (
      SELECT unnest(grams) AS g FROM bg WHERE doc_id = 0
    ), cand AS (
      SELECT doc_id, unnest(grams) AS g FROM bg
      WHERE doc_id BETWEEN 1 AND 200
    ), hits AS (
      SELECT c.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(ref.g) AS BIGINT) AS n_hits
      FROM cand c LEFT JOIN ref ON c.g = ref.g
      GROUP BY c.doc_id
    )
    SELECT doc_id, n_grams, n_hits,
           CAST(FLOOR(CAST(n_hits AS DOUBLE) / n_grams * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS rouge2_precision
    FROM hits
    ORDER BY doc_id
    """,
)
def text_rouge_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2-style bigram overlap against a reference document (the
    LLM-eval metric shape — summarization/extraction scoring): each
    candidate's DISTINCT bigrams probe the reference's bigram set,
    and the matched fraction comes back as an exact-count ratio.
    Distinct-gram semantics (set overlap, not multiset clipping)
    keep both engines trivially aligned; the reference gram set is
    document-bounded and BROADCASTS — scoring any corpus against a
    fixed reference is one equi join + one per-doc hash agg,
    corpus-linear (the decontamination probe's plan, repurposed for
    scoring). Ratios quantize from exact bigint counts.

    r14 (guide §1.2 step 2): the gram builder is a zip_with over the
    token array instead of an index-lambda transform. The index form
    referenced `t` inside its lambdas, and when the optimizer
    collapsed the projections and pushed the explode's size/notnull
    predicate below them, every lambda element access re-evaluated the
    FULL split() — O(len²) per doc per evaluation, measured 25 s at
    sf0.1 for a 201-doc query. zip_with's array arguments evaluate
    once per row (lambdas see only their bound elements), so every
    collapsed copy of the expression stays linear: same query, noop
    ~25 s → sub-second. Values identical: zip of t with its 1-shifted
    self enumerates exactly the consecutive pairs, the empty-token
    guard maps excluded pairs to null (filtered before the distinct),
    and first-occurrence order is preserved — same oracle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    t = F.col("t")
    z = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda x, y: F.when((x != "") & (y != ""), F.concat(x, F.lit(" "), y)),
    )
    grams = F.array_distinct(F.filter(z, lambda e: e.isNotNull()))
    bg = d.select("doc_id", toks.alias("t")).select("doc_id", grams.alias("grams"))
    ref = (
        bg.filter(F.col("doc_id") == 0)
        .select(F.explode("grams").alias("g_ref"))
        .distinct()
    )
    cand = bg.filter(F.col("doc_id").between(1, 200)).select(
        "doc_id", F.explode("grams").alias("g")
    )
    hits = (
        cand.join(F.broadcast(ref), F.col("g") == F.col("g_ref"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("g_ref").alias("n_hits"),
        )
    )
    ratio = F.floor(
        F.col("n_hits").cast("double") / F.col("n_grams") * 1000000 + F.lit(0.5)
    ).cast("bigint") / 1000000.0
    return hits.select(
        "doc_id", "n_grams", "n_hits", ratio.alias("rouge2_precision")
    ).orderBy("doc_id")


# --- retrieval / classifier evaluation metrics (r7 growth surface) -------

# NDCG log2 discounts in micro-units, hardcoded as integer literals so
# both engines share the exact table (no libm in the hash path):
# w[rn] = round(1e6 / log2(rn + 1)), rn = 1..10, and its prefix sums.
_NDCG_W = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065]
_NDCG_PW = [sum(_NDCG_W[: i + 1]) for i in range(10)]

_INT8_SQL = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    "x -> CAST(FLOOR(x * 127) AS BIGINT))"
)

_NDCG_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label, {_INT8_SQL} AS qv
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id AS cand_id, label AS c_label, {_INT8_SQL} AS cv
      FROM embeddings WHERE vec_id >= 8
    ), scored AS (
      SELECT q.query_id, q.q_label, c.cand_id, c.c_label,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 64),
                 i -> qv[i] * cv[i])), (a, b) -> a + b) AS score
      FROM q CROSS JOIN c
    ), ranked AS (
      SELECT query_id, q_label, c_label, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, cand_id) AS rn
      FROM scored
    ), weights(rn, w) AS (
      VALUES {', '.join(f'({i + 1}, {w})' for i, w in enumerate(_NDCG_W))}
    ), prefix(k, pw) AS (
      VALUES {', '.join(f'({i + 1}, {p})' for i, p in enumerate(_NDCG_PW))}
    ), dcg AS (
      SELECT r.query_id, r.q_label,
             SUM(CASE WHEN r.c_label = r.q_label THEN 1 ELSE 0 END)
               AS n_rel_top10,
             SUM(CASE WHEN r.c_label = r.q_label THEN w.w ELSE 0 END)
               AS dcg_u
      FROM ranked r JOIN weights w ON r.rn = w.rn
      WHERE r.rn <= 10
      GROUP BY r.query_id, r.q_label
    ), nrel AS (
      SELECT c_label, COUNT(*) AS n_rel_corpus FROM c GROUP BY c_label
    )
    SELECT d.query_id, CAST(d.n_rel_top10 AS BIGINT) AS n_rel_top10,
           CAST(d.dcg_u * 1000000 // p.pw AS BIGINT) AS ndcg_ppm
    FROM dcg d
    JOIN nrel nr ON nr.c_label = d.q_label
    JOIN prefix p ON p.k = LEAST(nr.n_rel_corpus, 10)
    ORDER BY d.query_id
    """


@register("ml_ndcg_at_k", oracle=_NDCG_ORACLE)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 for the embedding retrieval path — the eval metric that
    closes the similarity-search loop (is the ANN ranking any good?).
    Queries are vec_id < 8, candidates the rest of the corpus, score =
    integer dot product of globally-quantized int8 vectors (floor(x *
    127): exact in both engines, no per-vector scale division in the
    hash path), relevance = label match. Discounts are a hardcoded
    micro-unit log2 table shared verbatim with the oracle; IDCG uses
    the corpus-wide relevant count capped at k. Plan: the 8-row query
    side broadcasts against one linear corpus scan (same shape as
    sim_cosine_topk); ranking is a per-query top-10 window over the
    bounded candidate set; everything downstream is integer
    arithmetic. At 100 TB the corpus scan stays one pass and the
    per-query state is 10 rows."""
    e = load_table(spark, sf_dir, "embeddings")
    int8 = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 127).cast("bigint")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        int8.alias("qv"),
    )
    c = e.filter(F.col("vec_id") >= 8).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        int8.alias("cv"),
    )
    score = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "q_label", "cand_id", "c_label", score.alias("score")
    )
    # Two-phase top-k: a per-(query, salt) pre-rank keeps the heavy
    # window's parallelism at |Q| x 64 partitions instead of |Q| (the
    # corpus-sized pair stream would otherwise funnel into 8 reducer
    # partitions at 100 TB); the global top-10 is a subset of the
    # per-salt top-10 union, so phase 2 ranks <= |Q|*640 survivors.
    salt = F.pmod(F.xxhash64("cand_id"), F.lit(64))
    w1 = Window.partitionBy("query_id", "salt").orderBy(
        F.desc("score"), F.asc("cand_id")
    )
    pre = (
        scored.withColumn("salt", salt)
        .withColumn("rn1", F.row_number().over(w1))
        .filter(F.col("rn1") <= 10)
        .drop("salt", "rn1")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    ranked = pre.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    rel = (F.col("c_label") == F.col("q_label")).cast("bigint")
    w_arr = F.array(*[F.lit(x) for x in _NDCG_W])
    dcg = ranked.groupBy("query_id", "q_label").agg(
        F.sum(rel).alias("n_rel_top10"),
        F.sum(rel * F.element_at(w_arr, F.col("rn"))).alias("dcg_u"),
    )
    nrel = c.groupBy("c_label").agg(F.count(F.lit(1)).alias("n_rel_corpus"))
    pw_arr = F.array(*[F.lit(x) for x in _NDCG_PW])
    idcg = F.element_at(pw_arr, F.least(F.col("n_rel_corpus"), F.lit(10)).cast("int"))
    return (
        dcg.join(F.broadcast(nrel), dcg.q_label == nrel.c_label)
        .select(
            "query_id",
            "n_rel_top10",
            F.expr("dcg_u * 1000000").cast("bigint").alias("num"),
            idcg.alias("idcg_u"),
        )
        .select(
            "query_id",
            "n_rel_top10",
            F.expr("num DIV idcg_u").alias("ndcg_ppm"),
        )
        .orderBy("query_id")
    )


_AUC_ORACLE = """
    WITH scored AS (
      SELECT user_id % 5 AS cohort,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS su
      FROM events WHERE value IS NOT NULL
    ), ranked AS (
      SELECT cohort, label, su,
             RANK() OVER (PARTITION BY cohort ORDER BY su) AS rk,
             COUNT(*) OVER (PARTITION BY cohort, su) AS nt
      FROM scored
    ), agg AS (
      SELECT cohort,
             SUM(label) AS p,
             SUM(1 - label) AS n,
             SUM(CASE WHEN label = 1 THEN 2 * rk + nt - 1 ELSE 0 END) AS s2
      FROM ranked GROUP BY cohort
    )
    SELECT CAST(cohort AS BIGINT) AS cohort,
           CAST(p AS BIGINT) AS pos_n, CAST(n AS BIGINT) AS neg_n,
           CAST((s2 - p * (p + 1)) * 1048576 // (2 * p * n) AS BIGINT)
             AS auc_q20
    FROM agg ORDER BY cohort
    """


@register("ml_roc_auc", oracle=_AUC_ORACLE)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC per cohort via the tie-aware Mann-Whitney rank-sum
    identity: AUC = (S - P(P+1)/2) / (P*N) where S is the sum of
    average ranks of the positives. Average ranks are kept exact by
    working in doubled units (2*avg_rank = 2*min_rank + ties - 1, an
    integer), scores are fixed-point micro-units, and the final ratio
    is floor-quantized at 2^-20 — the whole metric is BIGINT
    arithmetic, no float accumulation (the win_percent_rank_cume
    knife-edge lesson). Plan: one rank window per cohort partition +
    one map-side-combinable groupBy — no per-pair join, so the metric
    is O(n log n) per cohort, not the O(P*N) naive comparison count;
    at 1000 executors each cohort's rank runs inside its own hash
    partition. Overflow margin: s2 * 2^20 stays under 2^63 up to
    ~10^5x the sf1 event volume."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = ev.select(
        (F.col("user_id") % 5).alias("cohort"),
        (F.col("event_type") == "purchase").cast("bigint").alias("label"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint").alias("su"),
    )
    wr = Window.partitionBy("cohort").orderBy("su")
    wt = Window.partitionBy("cohort", "su")
    ranked = scored.select(
        "cohort",
        "label",
        F.rank().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wt).alias("nt"),
    )
    agg = ranked.groupBy("cohort").agg(
        F.sum("label").alias("p"),
        F.sum(F.lit(1) - F.col("label")).alias("n"),
        F.sum(
            F.when(F.col("label") == 1, 2 * F.col("rk") + F.col("nt") - 1).otherwise(
                F.lit(0)
            )
        ).alias("s2"),
    )
    return agg.select(
        "cohort",
        F.col("p").alias("pos_n"),
        F.col("n").alias("neg_n"),
        F.expr("(s2 - p * (p + 1)) * 1048576 DIV (2 * p * n)").alias("auc_q20"),
    ).orderBy("cohort")


_PQ_M_SQL = "(SELECT UNNEST(generate_series(0, 7)) AS m)"
_PQ_ADC_ORACLE = f"""
    WITH c AS (
      SELECT vec_id, {_IVF_Q_SQL} AS q
      FROM embeddings WHERE vec_id < 128
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cid,
             q AS cq
      FROM c
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 4
    ), book AS (
      SELECT m.m, s.cid, (s.cq)[m.m * 8 + 1 : m.m * 8 + 8] AS cv
      FROM {_PQ_M_SQL} m CROSS JOIN seeds s
    ), subs AS (
      SELECT c.vec_id, m.m, (c.q)[m.m * 8 + 1 : m.m * 8 + 8] AS sv
      FROM c CROSS JOIN {_PQ_M_SQL} m
    ), dist AS (
      SELECT s.vec_id, s.m, b.cid,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(1, 8),
                                 i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))),
                  (x, y) -> x + y) AS BIGINT) AS d2
      FROM subs s JOIN book b ON s.m = b.m
    ), codes AS (
      SELECT vec_id AS neighbor_id, m, cid AS code FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS r
        FROM dist)
      WHERE r = 1
    ), adc AS (
      SELECT vec_id AS query_id, m, cid AS code, d2 AS dq2
      FROM dist WHERE vec_id < 8
    ), scored AS (
      SELECT a.query_id, cd.neighbor_id, CAST(SUM(a.dq2) AS BIGINT) AS adc_d2
      FROM codes cd
      JOIN adc a ON a.m = cd.m AND a.code = cd.code
                AND a.query_id <> cd.neighbor_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_d2, CAST(rn AS INTEGER) AS rn FROM (
      SELECT query_id, neighbor_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_d2, neighbor_id) AS rn
      FROM scored) WHERE rn <= 3
    ORDER BY query_id, rn
    """


@register("ml_ann_pq_adc", oracle=_PQ_ADC_ORACLE)
def ml_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ADC top-k (Jégou et al., TPAMI 2011) —
    the third leg of the ANN stack beside LSH (hash buckets) and IVF
    (coarse partitions): PQ attacks the MEMORY axis, encoding each
    vector as n_sub=8 one-byte-class codes so a 100-TB embedding
    corpus fits a fraction of the footprint, and queries score
    candidates with a precomputed 8×4 subspace distance table (ADC)
    instead of touching raw vectors. Relationally: the codebook and
    per-query ADC table are bounded broadcasts; encoding is one narrow
    corpus scan (posexplode into 8 subvectors, broadcast argmin join);
    scoring is a broadcast equi-join on (subspace, code) + a
    map-side-combinable SUM — no corpus×corpus pair, no raw-vector
    re-read at query time. Exact integer arithmetic end-to-end
    (quantized_vec), so the DuckDB oracle reproduces codes, tables,
    and ranking byte-for-byte over the bounded 128-vector twin corpus;
    recall properties live in tests/test_similarity.py."""
    from fairy_spark.operators.similarity import pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 128)
    return pq_adc_topk(e, k=3).orderBy("query_id", "rn")


_PREFIX_JACCARD_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_TOKS_SQL}) AS toks
      FROM documents WHERE doc_id < 2000
    ), tok AS (
      SELECT doc_id, UNNEST(toks) AS token FROM t
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), ordered AS (
      SELECT tok.doc_id, list(tok.token ORDER BY df.df, tok.token) AS ord
      FROM tok JOIN df ON tok.token = df.token
      GROUP BY tok.doc_id
    ), pre AS (
      SELECT doc_id, len(ord) AS n,
             (ord)[1 : len(ord) - ((9 * len(ord) + 9) // 10) + 1] AS prefix
      FROM ordered
    ), ptok AS (
      SELECT doc_id, n, UNNEST(prefix) AS token FROM pre
    ), cand AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM ptok a JOIN ptok b
        ON a.token = b.token AND a.doc_id < b.doc_id
       AND 10 * LEAST(a.n, b.n) >= 9 * GREATEST(a.n, b.n)
    ), ver AS (
      SELECT c.ida, c.idb,
             CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS i,
             CAST(len(list_distinct(ta.toks || tb.toks)) AS BIGINT) AS u
      FROM cand c
      JOIN t ta ON ta.doc_id = c.ida
      JOIN t tb ON tb.doc_id = c.idb
    ), pairs AS (
      SELECT ida, idb, (i * 1000000) // u AS ppm FROM ver WHERE 10 * i >= 9 * u
    ), sym AS (
      SELECT ida AS doc_id, idb AS partner, ppm FROM pairs
      UNION ALL
      SELECT idb, ida, ppm FROM pairs
    )
    SELECT doc_id, n_dups, partner AS best_partner, ppm AS best_jacc_ppm FROM (
      SELECT doc_id, partner, ppm,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_dups,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY ppm DESC, partner) AS r
      FROM sym) WHERE r = 1
    ORDER BY doc_id
    """


@register("dedup_prefix_jaccard", oracle=_PREFIX_JACCARD_ORACLE)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity self-join (SSJoin/PPJoin family
    — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) at Jaccard ≥ 0.9:
    tokens are globally ordered RAREST-FIRST by document frequency,
    each document exposes only its prefix (the first
    n − ceil(0.9·n) + 1 ordered tokens), and candidate pairs form
    ONLY via an equi-join on shared prefix tokens — the pigeonhole
    guarantee that two sets meeting the threshold must collide in
    their prefixes, with zero false negatives (unlike minhash-LSH,
    which trades recall). The frequency ordering is the scale lever:
    prefixes hold each document's rarest tokens, so join fan-out per
    token is minimal by construction; the verify step re-checks exact
    Jaccard as the integer cross-multiplication 10·|∩| ≥ 9·|∪|.
    Output folds pairs into per-doc stats (n_dups + best partner) so
    the result stays corpus-bounded. Complements dedup_ngram_jaccard
    (length-bucket blocking — recall-lossy across buckets) as the
    exact-recall member of the near-dup family.

    Two scale caveats, both standard: (1) the LENGTH filter
    (10·min(n_a,n_b) ≥ 9·max — a necessary condition for J ≥ 0.9)
    rides the candidate join, pruning cross-length pairs before any
    set intersection; (2) prefix filtering's pruning power is
    vocabulary-dependent — on a corpus whose vocabulary is SMALLER
    than its document count (this synthetic fixture: shared template
    tokens), even rarest-first prefixes collide almost everywhere and
    the join degenerates toward all-pairs, so the registered instance
    runs on a bounded 2000-doc twin corpus (the ml_ann_*_exact
    discipline); at open-web scale the prefix join prunes as
    published, and the minhash prefilter (dedup_minhash_lsh) remains
    the recall-trading fallback for adversarial vocabularies."""

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    # r14 (guide §1.2 step 1): the tokenized frame feeds THREE plan
    # branches (the df-ordering explode and both verify sides ta/tb),
    # and the prefix-token frame feeds both aliases of the candidate
    # self-join — each re-ran tokenize + the df-ordering shuffle
    # unpersisted (noop-sink 10.1 s at sf0.1, 24 parquet scans in the
    # plan). One checkpoint boundary per frame; checkpoint (not
    # persist) keeps the corpus-shaped token frames out of broadcast
    # plans — the pattern's 100 TB shape — while the scan-count drops
    # to the one eager pass each.
    t = docs.select(
        "doc_id", F.array_distinct(tokenize(F.col("text"))).alias("toks")
    ).localCheckpoint(eager=True)
    tok = t.select("doc_id", F.explode("toks").alias("token"))
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        tok.join(df, "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("ord")
        )
    )
    n = F.size("ord")
    p = n - ((F.lit(9) * n + F.lit(9)) / F.lit(10)).cast("int") + F.lit(1)
    pre = ordered.select(
        "doc_id", n.alias("n"), F.slice("ord", F.lit(1), p).alias("prefix")
    )
    ptok = pre.select(
        "doc_id", "n", F.explode("prefix").alias("token")
    ).localCheckpoint(eager=True)
    a, b = ptok.alias("a"), ptok.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(10) * F.least(F.col("a.n"), F.col("b.n"))
                >= F.lit(9) * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .distinct()
    )
    ta = t.select(F.col("doc_id").alias("ida"), F.col("toks").alias("toks_a"))
    tb = t.select(F.col("doc_id").alias("idb"), F.col("toks").alias("toks_b"))
    ver = (
        cand.join(ta, "ida")
        .join(tb, "idb")
        .select(
            "ida",
            "idb",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint").alias("i"),
            F.size(F.array_distinct(F.concat("toks_a", "toks_b")))
            .cast("bigint")
            .alias("u"),
        )
    )
    pairs = ver.filter(F.lit(10) * F.col("i") >= F.lit(9) * F.col("u")).select(
        "ida", "idb", F.expr("(i * 1000000) DIV u").alias("ppm")
    )
    sym = pairs.select(
        F.col("ida").alias("doc_id"), F.col("idb").alias("partner"), "ppm"
    ).unionAll(
        pairs.select(
            F.col("idb").alias("doc_id"), F.col("ida").alias("partner"), "ppm"
        )
    )
    w = Window.partitionBy("doc_id")
    wr = w.orderBy(F.desc("ppm"), F.asc("partner"))
    return (
        sym.withColumn("n_dups", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select(
            "doc_id",
            "n_dups",
            F.col("partner").alias("best_partner"),
            F.col("ppm").alias("best_jacc_ppm"),
        )
        .orderBy("doc_id")
    )


_RAKE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), pos AS (
      SELECT doc_id, i AS pos,
             regexp_replace(toks[i], '[^a-z0-9]', '', 'g') AS word
      FROM t CROSS JOIN UNNEST(generate_series(1, len(toks))) AS u(i)
    ), marked AS (
      SELECT doc_id, pos, word,
             CASE WHEN word = '' OR list_contains({_STOPWORDS_SQL}, word)
                  THEN 1 ELSE 0 END AS brk
      FROM pos
    ), grouped AS (
      SELECT doc_id, pos, word, brk,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM marked
    ), members AS (
      SELECT doc_id, phrase_id, pos, word FROM grouped WHERE brk = 0
    ), ph AS (
      SELECT doc_id, phrase_id, COUNT(*) AS len,
             string_agg(word, ' ' ORDER BY pos) AS phrase
      FROM members GROUP BY doc_id, phrase_id
      HAVING COUNT(*) <= 4
    ), m2 AS (
      SELECT m.word, m.doc_id, m.phrase_id, p.len, p.phrase
      FROM members m JOIN ph p
        ON m.doc_id = p.doc_id AND m.phrase_id = p.phrase_id
    ), wstats AS (
      SELECT word,
             (CAST(SUM(len) AS BIGINT) * 1000000) // COUNT(*) AS wscore
      FROM m2 GROUP BY word
    ), pscore AS (
      SELECT m2.doc_id, m2.phrase_id, m2.phrase,
             CAST(SUM(w.wscore) AS BIGINT) AS score
      FROM m2 JOIN wstats w ON m2.word = w.word
      GROUP BY m2.doc_id, m2.phrase_id, m2.phrase
    )
    SELECT phrase, MAX(score) AS score_ppm, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM pscore GROUP BY phrase
    ORDER BY score_ppm DESC, phrase LIMIT 20
    """


@register("text_keyword_rake", oracle=_RAKE_ORACLE)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, 'Automatic keyword
    extraction from individual documents'): candidate phrases are the
    maximal runs of content words between stopword/punctuation breaks
    (gaps-and-islands via a per-doc running break count — partitioned
    window, never global), capped at 4 words; each word scores
    degree/frequency where degree sums the lengths of every phrase the
    word appears in, and a phrase scores the sum of its words' scores.
    All scoring is integer ppm (truncating DIV) so both engines agree
    byte-for-byte. Scale shape: two corpus-hash-aggs (word stats,
    phrase collapse) + one equi-join of phrase members against the
    vocabulary — all map-side-combinable; the only ordered operation
    is within-doc position windows; global top-20 is TakeOrdered.
    Complements text_tfidf (corpus-statistical) with the
    document-local graph-degree signal RAKE is known for."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    pos = t.select(
        "doc_id", F.posexplode("toks").alias("p0", "token")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.regexp_replace(F.col("token"), "[^a-z0-9]", "").alias("word"),
    )
    marked = pos.withColumn(
        "brk",
        F.when(
            (F.col("word") == "") | F.col("word").isin(*EN_STOPWORDS), 1
        ).otherwise(0),
    )
    wb = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    members = (
        marked.withColumn("phrase_id", F.sum("brk").over(wb))
        .filter(F.col("brk") == 0)
        .select("doc_id", "phrase_id", "pos", "word")
    )
    ph = (
        members.groupBy("doc_id", "phrase_id")
        .agg(
            F.count(F.lit(1)).alias("len"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
            ).alias("phrase"),
        )
        .filter(F.col("len") <= 4)
    )
    m2 = members.join(ph, ["doc_id", "phrase_id"])
    wstats = m2.groupBy("word").agg(
        F.expr("(CAST(SUM(len) AS BIGINT) * 1000000) DIV COUNT(*)").alias("wscore")
    )
    pscore = (
        m2.join(wstats, "word")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(F.sum("wscore").cast("bigint").alias("score"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.max("score").alias("score_ppm"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("phrase"))
        .limit(20)
    )


_READABILITY_ORACLE = """
    WITH w AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(lower(text), '\\s+'),
                                        t -> regexp_replace(t, '[^a-z]', '', 'g')),
                         x -> x <> '') AS words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
      FROM documents
    ), s AS (
      SELECT doc_id, n_sentences,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(words,
                    x -> CAST(GREATEST(len(regexp_extract_all(x, '[aeiouy]+')), 1)
                         AS BIGINT))),
                  (a, b) -> a + b) AS BIGINT) AS n_syllables
      FROM w
    )
    SELECT doc_id, n_words, CAST(n_sentences AS BIGINT) AS n_sentences,
           n_syllables,
           (390 * n_words) // n_sentences
             + (11800 * n_syllables) // n_words - 15590 AS fk_grade_milli
    FROM s WHERE n_words > 0 ORDER BY doc_id
    """


@register("text_readability", oracle=_READABILITY_ORACLE)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability (Kincaid et al. 1975 —
    the quality-filter signal CCNet/Gopher-style pipelines pair with
    LM perplexity): words = alpha-stripped whitespace tokens,
    syllables ≈ maximal vowel-group runs per word (the standard
    regex approximation, min 1), sentences ≈ maximal [.!?]+ runs
    (min 1), grade = 0.39·(W/S) + 11.8·(Sy/W) − 15.59 carried in
    exact milli-units as two truncating integer DIVs, so both engines
    agree to the last digit. Scale shape: one narrow projection —
    every count is an array HOF over the row's own tokens (zero
    shuffle, whole-stage codegen); at 100 TB this runs at scan speed
    next to the other per-doc quality signals and feeds the same
    curriculum/filter thresholds."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.selectExpr(
        "doc_id",
        r"""filter(transform(split(lower(text), '\\s+'),
                   t -> regexp_replace(t, '[^a-z]', '')),
            x -> x != '') AS words""",
        "GREATEST(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS n_sentences",
    ).selectExpr(
        "doc_id",
        "CAST(size(words) AS BIGINT) AS n_words",
        "CAST(n_sentences AS BIGINT) AS n_sentences",
        """CAST(aggregate(transform(words,
              x -> CAST(GREATEST(size(regexp_extract_all(x, '[aeiouy]+', 0)), 1)
                   AS BIGINT)),
            CAST(0 AS BIGINT), (a, b) -> a + b) AS BIGINT) AS n_syllables""",
    )
    return (
        s.filter(F.col("n_words") > 0)
        .selectExpr(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            "(390 * n_words) DIV n_sentences"
            " + (11800 * n_syllables) DIV n_words - 15590 AS fk_grade_milli",
        )
        .orderBy("doc_id")
    )


_MINHASH_EVAL_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id < 500
    ), s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM t
    ), sig AS (
      SELECT doc_id, sh,
             [{", ".join(minhash_sql(i) for i in range(8))}] AS sig
      FROM s
    ), exact AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE 5 * len(list_intersect(a.sh, b.sh))
            >= 2 * len(list_distinct(a.sh || b.sh))
        AND len(list_distinct(a.sh || b.sh)) > 0
    ), cand AS (
      SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id
       AND ({" OR ".join(f"a.sig[{i + 1}] = b.sig[{i + 1}]" for i in range(8))})
    ), m AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand c
          WHERE EXISTS (SELECT 1 FROM exact e
                        WHERE e.ida = c.ida AND e.idb = c.idb)) AS tp
    )
    SELECT n_exact, n_cand, tp, n_cand - tp AS fp, n_exact - tp AS fn,
           (tp * 1000000) // n_cand AS precision_ppm,
           (tp * 1000000) // n_exact AS recall_ppm
    FROM m
    """


@register("dedup_eval_minhash", oracle=_MINHASH_EVAL_ORACLE)
def dedup_eval_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality EVALUATION as a first-class query: on a bounded
    500-doc twin corpus, the ground truth (ALL pairs with shingle
    Jaccard ≥ 0.4, exact-rational 5·|∩| ≥ 2·|∪|) is compared against
    the minhash-LSH candidate set (8 bands × 1 hash — the blocking
    geometry dedup_minhash_lsh uses), reporting tp/fp/fn and
    precision/recall in exact ppm. This is the measurement every
    pipeline owner needs before trusting a recall-trading near-dup
    pass at 100 TB — run it on a sampled slice, read the recall, THEN
    fan out; the registered bounded instance makes the measurement
    itself hash-verifiable (the deliberate all-pairs ground truth is
    why the corpus is capped — the production-scale candidate path
    stays banded/blocked, tests/test_scale_growth.py). Kin to
    dedup_minhash_est (per-pair estimator error) but scored at the
    DECISION level: did blocking propose the pair at all."""
    from fairy_spark.operators.text import minhash_signature

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    # r14 (guide §1.2 step 1 + §2.5): the shingle frame feeds FOUR
    # branches (both all-pairs sides, the signature build fanning into
    # both band sides) — each re-ran the shingle HOF unpersisted
    # (before-plan: 16 parquet scans, noop 17.5 s median with 13–49 s
    # spread). One persist-mode park each for `s` (500 rows;
    # statistics keep the broadcast plans), `exact` and `cand` (each
    # feeds its own count AND the tp semi-join, so the 125k-pair
    # intersect/union ground truth runs once, not twice). The
    # repartition before the park matters: the 500-doc slice arrives
    # as ONE scan partition, and the parked frame keeps that layout —
    # leaving the all-pairs ground-truth stage (125k heavy
    # intersect/union rows) on a single core.
    par = spark.sparkContext.defaultParallelism
    s = park_persisted(
        docs.select("doc_id", shingle_set(F.col("text")).alias("sh")).repartition(par)
    )
    sig = s.withColumn("sig", minhash_signature(F.col("sh"), 8))
    a, b = s.alias("a"), s.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    uni = F.size(F.array_distinct(F.concat(F.col("a.sh"), F.col("b.sh"))))
    exact = park_persisted(
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter((F.lit(5) * inter >= F.lit(2) * uni) & (uni > 0))
        .select(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb")),
    )
    bands = sig.select(
        "doc_id", F.posexplode("sig").alias("band", "val")
    )
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = park_persisted(
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.val") == F.col("bb.val"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("ida"), F.col("bb.doc_id").alias("idb"))
        .distinct(),
    )
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    tp = (
        cand.join(exact, ["ida", "idb"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tp"))
    )
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(tp))
        .selectExpr(
            "n_exact",
            "n_cand",
            "tp",
            "n_cand - tp AS fp",
            "n_exact - tp AS fn",
            "(tp * 1000000) DIV n_cand AS precision_ppm",
            "(tp * 1000000) DIV n_exact AS recall_ppm",
        )
    )


def _bpe_round_sql(prev: str, r: int) -> str:
    """One BPE merge round as DuckDB CTEs: adjacent-pair counts from
    the bracket encoding, argmax merge, greedy leftmost apply."""
    return f"""sy{r} AS (
      SELECT string_split(s[2:length(s) - 1], '><') AS syms, freq FROM {prev}
    ), pc{r} AS (
      SELECT p, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, '<' || syms[i] || '><' || syms[i + 1] || '>' AS p
        FROM sy{r} CROSS JOIN UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
        WHERE len(syms) >= 2
      ) GROUP BY p
    ), b{r} AS (
      SELECT p, replace(p, '><', '') AS m, cnt
      FROM pc{r} ORDER BY cnt DESC, p LIMIT 1
    ), enc{r} AS (
      SELECT replace(s, (SELECT p FROM b{r}), (SELECT m FROM b{r})) AS s, freq
      FROM {prev}
    ), voc{r} AS (
      SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab FROM (
        SELECT UNNEST(string_split(s[2:length(s) - 1], '><')) AS sym FROM enc{r})
    ), out{r} AS (
      SELECT {r} AS round,
             replace((SELECT p FROM b{r})[2:length((SELECT p FROM b{r})) - 1],
                     '><', '+') AS merge_pair,
             (SELECT cnt FROM b{r}) AS pair_count,
             (SELECT vocab FROM voc{r}) AS vocab_after
    )"""


_BPE_TRAIN_ORACLE = f"""
    WITH w0 AS (
      SELECT word, CAST(SUM(freq) AS BIGINT) AS freq FROM (
        SELECT regexp_replace(t.tok, '[^a-z]', '', 'g') AS word, 1 AS freq
        FROM (SELECT UNNEST(string_split_regex(lower(text), '\\s+')) AS tok
              FROM documents) t
      ) WHERE word <> '' GROUP BY word
    ), enc0 AS (
      SELECT '<' || array_to_string(
               list_transform(generate_series(1, length(word)), i -> word[i]),
               '><') || '>' AS s, freq
      FROM w0
    ), {_bpe_round_sql("enc0", 1)}, {_bpe_round_sql("enc1", 2)},
    {_bpe_round_sql("enc2", 3)}
    SELECT * FROM out1 UNION ALL SELECT * FROM out2 UNION ALL SELECT * FROM out3
    ORDER BY round
    """


@register("text_bpe_train", oracle=_BPE_TRAIN_ORACLE)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, three real merge rounds (Sennrich et
    al. 2016 — the loop text_bpe_pairs only measures one step of):
    each round counts adjacent symbol pairs over the word-frequency
    table, picks the argmax pair (ties → lexicographic), and APPLIES
    the merge with greedy leftmost-non-overlapping semantics before
    the next round re-counts. Words ride a bracket encoding
    '<s1><s2>…' so a single string replace('<a><b>' → '<ab>') IS the
    greedy merge — bit-identical in both engines, no per-row loop.
    Distributed shape: training runs on the DISTINCT-word frequency
    table (vocabulary-sized, not corpus-sized — the one corpus scan is
    the word count), pair counting is explode + map-side-combinable
    SUM, and each round collects exactly ONE row (the winning merge) —
    the bounded-model-collect discipline of ml_adaboost_stumps; N
    merges = N vocabulary-linear scans. Output per round: the merge,
    its count, and the symbol-vocabulary size after applying it."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(tokenize(F.col("text"))).alias("tok")
        )
        .select(F.regexp_replace("tok", "[^a-z]", "").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    enc = words.selectExpr(
        "concat('<', array_join(transform(sequence(1, length(word)),"
        " i -> substring(word, i, 1)), '><'), '>') AS s",
        "freq",
    )
    rows = []
    for r in (1, 2, 3):
        sy = enc.selectExpr(
            "split(substring(s, 2, length(s) - 2), '><') AS syms", "freq"
        )
        pc = (
            sy.filter(F.expr("size(syms) >= 2"))
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> concat('<', element_at(syms, i), '><',"
                        " element_at(syms, i + 1), '>'))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = pc.orderBy(F.desc("cnt"), F.asc("p")).limit(1).collect()[0]
        p, cnt = best["p"], int(best["cnt"])
        m = p.replace("><", "")
        enc = enc.selectExpr(f"replace(s, '{p}', '{m}') AS s", "freq")
        vocab = (
            enc.select(
                F.explode(
                    F.expr("split(substring(s, 2, length(s) - 2), '><')")
                ).alias("sym")
            )
            .agg(F.countDistinct("sym"))
            .collect()[0][0]
        )
        rows.append((r, p[1:-1].replace("><", "+"), cnt, int(vocab)))
    return spark.createDataFrame(
        rows, "round INT, merge_pair STRING, pair_count BIGINT, vocab_after BIGINT"
    ).orderBy("round")


_BPE_APPLY_ORACLE = f"""
    WITH w0 AS (
      SELECT word, CAST(SUM(freq) AS BIGINT) AS freq FROM (
        SELECT regexp_replace(t.tok, '[^a-z]', '', 'g') AS word, 1 AS freq
        FROM (SELECT UNNEST(string_split_regex(lower(text), '\\s+')) AS tok
              FROM documents) t
      ) WHERE word <> '' GROUP BY word
    ), enc0 AS (
      SELECT '<' || array_to_string(
               list_transform(generate_series(1, length(word)), i -> word[i]),
               '><') || '>' AS s, length(word) AS chars, freq
      FROM w0
    ), {_bpe_round_sql("enc0", 1)}, {_bpe_round_sql("enc1", 2)},
    {_bpe_round_sql("enc2", 3)}, applied AS (
      SELECT freq, chars,
             len(string_split(
               (replace(replace(replace(s,
                  (SELECT p FROM b1), (SELECT m FROM b1)),
                  (SELECT p FROM b2), (SELECT m FROM b2)),
                  (SELECT p FROM b3), (SELECT m FROM b3))
               )[2 : length(replace(replace(replace(s,
                  (SELECT p FROM b1), (SELECT m FROM b1)),
                  (SELECT p FROM b2), (SELECT m FROM b2)),
                  (SELECT p FROM b3), (SELECT m FROM b3))) - 1],
               '><')) AS toks
      FROM enc0
    )
    SELECT CAST(SUM(freq) AS BIGINT) AS total_words,
           CAST(SUM(freq * chars) AS BIGINT) AS total_chars,
           CAST(SUM(freq * toks) AS BIGINT) AS total_bpe_tokens,
           (CAST(SUM(freq * toks) AS BIGINT) * 1000000)
             // CAST(SUM(freq * chars) AS BIGINT) AS compression_ppm
    FROM applied
    """


@register("text_bpe_apply", oracle=_BPE_APPLY_ORACLE)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE segmentation APPLIED corpus-wide — the inference half of
    text_bpe_train's training loop: the 3 learned merges (re-derived
    with the identical argmax chain, then collected as 3 bounded
    model rows) are applied to every word as a fixed nested
    greedy-replace, and the corpus reports its post-merge token count
    and compression (BPE tokens per character, ppm). This is the
    number a tokenizer owner actually tracks — how much a merge
    budget shrinks the training corpus — and at 100 TB it's one
    vocabulary-table scan (apply + weighted sums; per-document work
    never happens because frequency-weighted word-level totals are
    exactly the corpus totals). Train and apply sharing one oracle
    proves the learned merges, their order, AND the greedy apply
    semantics end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .select(F.regexp_replace("tok", "[^a-z]", "").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    enc = words.selectExpr(
        "concat('<', array_join(transform(sequence(1, length(word)),"
        " i -> substring(word, i, 1)), '><'), '>') AS s",
        "length(word) AS chars",
        "freq",
    )
    cur, merges = enc, []
    for _ in range(3):
        sy = cur.selectExpr(
            "split(substring(s, 2, length(s) - 2), '><') AS syms", "freq"
        )
        pc = (
            sy.filter(F.expr("size(syms) >= 2"))
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> concat('<', element_at(syms, i), '><',"
                        " element_at(syms, i + 1), '>'))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = pc.orderBy(F.desc("cnt"), F.asc("p")).limit(1).collect()[0]
        p = best["p"]
        m = p.replace("><", "")
        merges.append((p, m))
        cur = cur.selectExpr(f"replace(s, '{p}', '{m}') AS s", "chars", "freq")
    applied = cur.selectExpr(
        "freq",
        "chars",
        "size(split(substring(s, 2, length(s) - 2), '><')) AS toks",
    )
    return applied.selectExpr(
        "CAST(SUM(freq) AS BIGINT) AS total_words",
        "CAST(SUM(freq * chars) AS BIGINT) AS total_chars",
        "CAST(SUM(freq * toks) AS BIGINT) AS total_bpe_tokens",
        "(CAST(SUM(freq * toks) AS BIGINT) * 1000000)"
        " DIV CAST(SUM(freq * chars) AS BIGINT) AS compression_ppm",
    )


@register(
    "pipeline_source_report",
    oracle=f"""
    WITH t AS (SELECT source, text, {_TOKS_SQL} AS toks FROM documents),
    d AS (
      SELECT source, sha256(text) AS dig, LEN(toks) AS n_words,
             CASE WHEN LEN(toks) BETWEEN 30 AND 10000
                   AND (list_reduce(list_prepend(0.0,
                          list_transform(toks, x -> CAST(LENGTH(x) AS DOUBLE))),
                          (a,b) -> a+b) / LEN(toks)) BETWEEN 3 AND 10
                   AND (CAST(LEN(list_filter(toks,
                          x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
                        / LEN(toks)) >= 0.8
                   AND LEN(list_filter(toks,
                          x -> list_contains({_STOPWORDS_SQL}, x))) >= 2
             THEN 1 ELSE 0 END AS keep
      FROM t
    ),
    c AS (SELECT dig, COUNT(*) AS cnt FROM d GROUP BY dig)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.keep) AS BIGINT) * 1000000 // COUNT(*) AS gopher_keep_ppm,
           CAST(SUM(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             // COUNT(*) AS exact_dup_ppm,
           CAST(SUM(d.n_words) AS BIGINT) AS total_tokens,
           CAST(SUM(d.n_words) AS BIGINT) // COUNT(*) AS mean_tokens
    FROM d JOIN c USING (dig)
    GROUP BY source
    ORDER BY source
    """,
)
def pipeline_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report card — the dashboard a data curator
    reads before deciding mixture weights: document count, Gopher
    rule-pack keep rate (the EXACT predicate the filter stage applies,
    shared via operators/pipeline.py::gopher_keep_col), exact-duplicate
    incidence (docs whose sha2 digest appears more than once
    corpus-wide — cross-source copies count in every source holding
    one), and token volume. All ratios are exact integer ppm.

    Plan: ONE corpus scan computes (source, digest, n_words, keep) —
    the quality predicate and tokenize share a codegen span; one hash
    agg on the 64-hex digest + a digest-keyed join back (never doc
    pairs); one per-source agg. At 100 TB this is the cheapest
    full-corpus pass that yields per-source curation signals — and at
    ~5 sources the final agg ships 5 rows."""
    from fairy_spark.operators.pipeline import source_report

    return source_report(load_table(spark, sf_dir, "documents"))
