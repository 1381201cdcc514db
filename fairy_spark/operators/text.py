"""Text-analysis building blocks for the LLM-data-pipeline surface.

All pure built-in column expressions (JVM-side, codegen-friendly) —
no Python UDFs. Every function here has an exact SQL re-expression in
DuckDB so the dedup/fingerprint pipelines are oracle-checkable
end-to-end (portable hashing via md5 hex → bigint, never engine
bit-mix hashes like xxhash64).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Portable 60-bit hash: first 15 hex chars of md5, parsed base-16.
# DuckDB equivalent: CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT).
def portable_hash64(col: Column, seed: str = "") -> Column:
    payload = F.concat(F.lit(seed), F.lit(":"), col) if seed else col
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


def portable_hash_sql(expr: str, seed: str = "") -> str:
    payload = f"concat('{seed}', ':', {expr})" if seed else expr
    return f"CAST(concat('0x', substr(md5({payload}), 1, 15)) AS BIGINT)"


def tokenize(text: Column) -> Column:
    """Lowercased whitespace tokens. SQL: string_split_regex(lower(x), '\\s+')."""
    return F.split(F.lower(text), r"\s+")


def word_ngrams(tokens: Column, n: int) -> Column:
    """Space-joined word n-grams.
    SQL: list_transform(generate_series(1, len(t)-n+1), i -> array_to_string(t[i:i+n-1], ' ')).

    Built by zipping n-1 SHIFTED copies of the token array rather than
    slicing per index — per-index slice is an O(len) array copy inside
    an O(len) transform (quadratic per doc, and measured 2-4× slower
    at sf0.1); the zip form is n-1 linear passes. concat_ws skips the
    nulls zip_with pads with, and the final slice drops the ragged
    tail, so output order and values are identical to the per-index
    form (same oracle SQL)."""
    sz = F.size(tokens)
    z = tokens
    for k in range(1, n):
        z = F.zip_with(
            z,
            F.slice(tokens, k + 1, F.greatest(sz - k, F.lit(0))),
            lambda acc, nxt: F.concat_ws(" ", acc, nxt),
        )
    return F.slice(z, 1, F.greatest(sz - (n - 1), F.lit(0)))


def shingle_set(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the unit set for Jaccard/minhash."""
    return F.array_distinct(word_ngrams(tokenize(text), n))


def minhash_signature(shingles: Column, num_hashes: int = 8) -> Column:
    """Array of num_hashes min-hash values over the shingle set.

    One md5 per shingle; hash i reads the 15-hex-char window starting
    at offset i of the digest (offsets 0..17, so num_hashes <= 18
    windows fit in 32 hex chars) — 8x cheaper than seeded re-hashing,
    still deterministic (SURVEY.md §7.5 forbids builtin hash()) and
    exactly reproducible in SQL:
    h_i(s) = CAST(concat('0x', substr(md5(s), 1+i, 15)) AS BIGINT).
    """
    assert num_hashes <= 18
    # Expression structure matters: referencing a shared `hexes`
    # sub-expression from num_hashes separate array_min's duplicates
    # the md5 transform num_hashes times in the plan (Catalyst does not
    # CSE across higher-order functions — verified in the physical
    # plan; 8× the md5 work). Instead: nested transform so md5 runs
    # ONCE per shingle (the outer lambda sees the materialized hex),
    # then one aggregate() fold computes all minima in a single pass.
    # NB: single-parameter lambdas only — PySpark binds a second lambda
    # parameter to the array index.
    per_shingle = F.transform(
        F.transform(shingles, lambda s: F.md5(s)),
        lambda h: F.array(
            *[
                F.conv(F.substring(h, 1 + i, 15), 16, 10).cast("bigint")
                for i in range(num_hashes)
            ]
        ),
    )
    # least() skips nulls, so a null-array init yields exactly
    # array_min semantics (empty shingle set → all-null signature).
    init = F.array_repeat(F.lit(None).cast("bigint"), num_hashes)
    return F.aggregate(
        per_shingle,
        init,
        lambda acc, vs: F.zip_with(acc, vs, lambda a, v: F.least(a, v)),
    )


def minhash_sql(i: int, shingles_expr: str = "sh") -> str:
    """DuckDB expression mirroring minhash_signature's hash i."""
    return (
        f"list_aggregate(list_transform({shingles_expr}, "
        f"s -> CAST(concat('0x', substr(md5(s), {1 + i}, 15)) AS BIGINT)), 'min')"
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# --- quality / stats heuristics (deterministic, SQL-portable) ----------------

EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "for", "on")

# Per-language stopword profiles for stopword-frequency language
# guessing (Grefenstette, 1995 — "Comparing two language
# identification schemes", the classic pre-fastText heuristic; public).
# Ten highest-frequency function words per language; overlaps between
# languages (de/la/en/in/...) are real and resolved by the argmax.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "zu", "den", "von", "mit", "nicht"),
    "en": EN_STOPWORDS,
    "es": ("el", "la", "los", "de", "y", "que", "en", "un", "es", "no"),
    "fr": ("le", "la", "les", "de", "et", "une", "un", "des", "est", "dans"),
}


def stopword_ratio(tokens: Column) -> Column:
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n = F.size(tokens)
    return F.when(
        n > 0, F.size(F.array_intersect(F.array_distinct(tokens), sw)).cast("double") / n
    ).otherwise(F.lit(0.0))


def mean_token_len(tokens: Column) -> Column:
    total = F.aggregate(
        F.transform(tokens, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(tokens) > 0, total / F.size(tokens)).otherwise(F.lit(0.0))


def cdc_chunks(tokens: Column, mod: int = 8) -> Column:
    """Content-defined chunking (the token-level analog of Rabin/gear
    CDC used by dedup stores — boundary rule is a pure function of
    LOCAL content, public since Muthitacharoen et al. LBFS, SOSP 2001):
    a chunk boundary falls AFTER every token whose portable hash is
    0 mod `mod`, giving variable-size chunks of expected length `mod`
    that RE-SYNCHRONIZE after an insertion/deletion — a prefix edit
    perturbs only the chunks up to the next boundary, unlike
    fixed-position blocks (dedup_chunks) where one inserted token
    shifts every downstream block.

    Returns array<string> of space-joined chunk texts covering the
    token stream exactly (concat of chunks == token stream). Built as
    ONE linear aggregate() fold over the tokens (accumulator =
    finished chunks + current chunk): the natural boundary-positions →
    per-index-slice formulation re-expands the boundary pipeline per
    chunk index at plan time (Catalyst does not CSE across
    higher-order functions — the minhash_signature lesson; measured
    112 s vs 3 s at sf0.01), while the fold touches each token once at
    runtime. One md5 per token, zero shuffle, corpus-linear."""
    if mod < 1:
        raise ValueError(f"cdc_chunks needs mod >= 1, got {mod}")

    def step(acc: Column, t: Column) -> Column:
        flag = F.pmod(portable_hash64(t, "cdc"), F.lit(mod)) == 0
        # cur is NULL when no token has been folded yet — distinct from
        # cur == '' (an accumulated empty token, which must still get
        # its positional ' ' separator, exactly like the oracle's
        # array_to_string slice). Chunks that join to '' (a lone empty
        # token) are dropped, mirroring the oracle's `c <> ''` filter.
        newcur = F.when(acc["cur"].isNull(), t).otherwise(
            F.concat(acc["cur"], F.lit(" "), t)
        )
        return F.struct(
            F.when(flag & (newcur != ""), F.array_append(acc["done"], newcur))
            .otherwise(acc["done"])
            .alias("done"),
            F.when(flag, F.lit(None).cast("string")).otherwise(newcur).alias("cur"),
        )

    init = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit(None).cast("string").alias("cur"),
    )
    return F.aggregate(
        tokens,
        init,
        step,
        lambda acc: F.when(
            acc["cur"].isNotNull() & (acc["cur"] != ""),
            F.array_append(acc["done"], acc["cur"]),
        ).otherwise(acc["done"]),
    )


def winnow_fingerprints(tokens: Column, k: int = 4, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS local-fingerprint algorithm, public): hash
    every token k-gram, then keep the MINIMUM hash of each length-w
    window of consecutive gram hashes. Guarantee: two documents
    sharing any token run of length >= k + w - 1 share at least one
    selected fingerprint, while only ~2/(w+1) of gram hashes are kept
    — local (per-passage) matching that whole-document fingerprints
    (rolling_fingerprint) cannot do.

    Returns the DISTINCT selected hashes as array<bigint>. Documents
    with fewer than w gram windows fall back to the single global min
    (every doc with >= k tokens keeps >= 1 fingerprint); docs shorter
    than k tokens return an empty array. All built-in HOFs, one md5
    per gram, zero shuffle: the window minima come from w-1 shifted
    zip_with/least passes (the word_ngrams trick — per-index slice
    inside a transform is quadratic per doc) and ties need no
    rightmost-position rule because the 60-bit gram hashes are
    injective for practical purposes AND the output is the distinct
    hash set, which is tie-order-free by construction."""
    if k < 1 or w < 1:
        raise ValueError(
            f"winnow_fingerprints needs k >= 1 and w >= 1, got k={k} w={w}"
        )
    grams = word_ngrams(tokens, k)
    hs = F.transform(grams, lambda g: portable_hash64(g, "win"))
    sz = F.size(hs)
    z = hs
    for t in range(1, w):
        # zip_with pads the shorter (shifted) side with nulls; least()
        # skips nulls, and the final slice drops the ragged tail where
        # windows would be short.
        z = F.zip_with(
            z,
            F.slice(hs, t + 1, F.greatest(sz - t, F.lit(0))),
            lambda a, b: F.least(a, b),
        )
    full = F.array_distinct(F.slice(z, 1, F.greatest(sz - (w - 1), F.lit(0))))
    return (
        F.when(sz >= w, full)
        .when(sz > 0, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<bigint>"))
    )


def rolling_fingerprint(tokens: Column) -> Column:
    """Polynomial rolling hash over the token stream — order-sensitive
    document fingerprint (same docs → same print, permuted docs → different).
    acc = (acc * 131 + h(tok) % 65536) % 1_000_000_007, left fold; stays
    within bigint so Spark and DuckDB agree exactly."""
    return F.aggregate(
        F.transform(tokens, lambda t: F.pmod(portable_hash64(t, "fp"), F.lit(65536))),
        F.lit(0).cast("bigint"),
        lambda acc, x: F.pmod(acc * 131 + x, F.lit(1000000007)),
    )
