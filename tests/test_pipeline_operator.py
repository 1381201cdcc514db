"""Unit tests for operators/pipeline.py stage functions on tiny
synthetic frames with known-by-construction outcomes (the composed
chain itself is oracle-proven by the registered
`pipeline_pretrain_corpus`; these pin each stage's contract for API
callers who compose their own)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fairy_spark.operators.pipeline import (
    decontaminate,
    gopher_quality_filter,
    near_dup_removed,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog and then it runs far away "
    "to find a quiet place where it can rest for a while before coming back "
    "home to the warm den with all of its family members sleeping soundly"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING, n_chars INT")


def test_gopher_rules_reject_each_failure_mode(spark):
    docs = _docs(
        spark,
        [
            (1, GOOD, len(GOOD)),                                # passes all
            (2, "too short for the floor", 22),                  # n_words < 30
            (3, " ".join(["x1"] * 40), 119),                     # alpha ratio 0
            (4, " ".join(["supercalifragilistic"] * 40), 800),   # mwl > 10, no stopwords
        ],
    )
    kept = [r["doc_id"] for r in gopher_quality_filter(docs).select("doc_id").collect()]
    assert kept == [1]
    # original columns survive untouched
    assert set(gopher_quality_filter(docs).columns) == {"doc_id", "text", "n_chars"}


def test_near_dup_removed_keeps_longest_survivor(spark):
    # 1 and 2 are near-identical (one token differs); 2 is longer so it
    # survives; 3 is unrelated and untouched.
    t1 = GOOD
    t2 = GOOD + " extra"
    t3 = "completely different content about databases and query engines " * 3
    docs = _docs(spark, [(1, t1, len(t1)), (2, t2, len(t2)), (3, t3, len(t3))])
    kept = sorted(
        r["doc_id"]
        for r in near_dup_removed(docs, threshold=0.4).select("doc_id").collect()
    )
    assert kept == [2, 3]


def test_decontaminate_drops_gram_sharers_only(spark):
    # doc 1 shares an 8-gram with the probe; doc 2 does not.
    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = _docs(
        spark,
        [(1, leak + " " + GOOD, 10), (2, GOOD, len(GOOD))],
    )
    probe = _docs(spark, [(99, "prefix words then " + leak, 10)])
    kept = [r["doc_id"] for r in decontaminate(docs, probe).select("doc_id").collect()]
    assert kept == [2]


def test_decontaminate_short_probe_grams_are_harmless(spark):
    # a probe doc with < 8 tokens contributes no grams — nothing drops
    docs = _docs(spark, [(1, GOOD, len(GOOD))])
    probe = _docs(spark, [(99, "only five short probe words", 5)])
    assert decontaminate(docs, probe).count() == 1


def test_gopher_filter_leaves_any_caller_columns_untouched(spark):
    # ADVICE r9: the old impl materialized temp columns _n_words/_mwl/
    # _ar/_stop_hits and silently clobbered caller columns of the same
    # name; the inline-predicate form must pass them through verbatim.
    docs = spark.createDataFrame(
        [(1, GOOD, 7, 0.5)], "doc_id BIGINT, text STRING, _n_words INT, _mwl DOUBLE"
    )
    out = gopher_quality_filter(docs)
    assert set(out.columns) == {"doc_id", "text", "_n_words", "_mwl"}
    row = out.collect()[0]
    assert row["_n_words"] == 7 and row["_mwl"] == 0.5


def test_near_dup_removed_scale_geometry_param(spark):
    # (16,2) production geometry flows through to the band join: the
    # one-token-edit near-dup pair still collides on >= 1 two-row band
    # (signatures differ in few components), so the longest survivor
    # selection is unchanged vs the (8,1) default on this fixture.
    t1 = GOOD
    t2 = GOOD + " extra"
    t3 = "completely different content about databases and query engines " * 3
    docs = _docs(spark, [(1, t1, len(t1)), (2, t2, len(t2)), (3, t3, len(t3))])
    kept = sorted(
        r["doc_id"]
        for r in near_dup_removed(
            docs, threshold=0.4, num_hashes=16, band_rows=2
        ).select("doc_id").collect()
    )
    assert kept == [2, 3]


def test_decontaminate_broadcast_false_same_rows(spark):
    # the shuffle form (broadcast=False) is value-identical to the
    # broadcast form — only the physical join strategy differs.
    leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = _docs(spark, [(1, leak + " " + GOOD, 10), (2, GOOD, len(GOOD))])
    probe = _docs(spark, [(99, "prefix words then " + leak, 10)])
    for bc in (True, False, None):
        kept = [
            r["doc_id"]
            for r in decontaminate(docs, probe, broadcast=bc)
            .select("doc_id")
            .collect()
        ]
        assert kept == [2], f"broadcast={bc}"


def test_decontaminate_broadcast_plan_switch(spark):
    # broadcast=True puts a broadcast exchange on the probe-gram side;
    # broadcast=False must NOT (the giant-probe-set escape hatch the
    # r9 verdict asked for).
    docs = _docs(spark, [(1, GOOD, len(GOOD))])
    probe = _docs(spark, [(99, GOOD, len(GOOD))])
    plan_bc = decontaminate(docs, probe, broadcast=True)._jdf.queryExecution().executedPlan().toString()
    plan_sh = decontaminate(docs, probe, broadcast=False)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_bc or "BroadcastExchange" in plan_bc
    # the probe-gram semi-join side must be shuffle-based; the final
    # left_anti against the tiny contaminated-id set may still
    # auto-broadcast, so assert on the gram join specifically
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \S+, \S+, LeftSemi", plan_sh)


def _synth_doc(i: int) -> str:
    # 5 stopwords (Gopher floor) + 30 doc-specific all-letter tokens:
    # distinct docs share almost no shingles (jaccard ~0), so the
    # near-dup stage only collapses deliberately planted pairs.
    toks = ["the", "and", "for", "with", "that"]
    for j in range(30):
        n = i * 100 + j  # base-26-encode a unique per-(doc, position) index
        w = ""
        for _ in range(5):
            w += chr(97 + n % 26)
            n //= 26
        toks.append(w)
    return " ".join(toks)


def test_pretrain_corpus_staged_value_identical(spark):
    # exact dup, near-dup and contaminated docs leave through the
    # stage-3 checkpoint boundary
    from fairy_spark.operators.pipeline import pretrain_corpus

    rows = [(i, _synth_doc(i), 200 + i) for i in range(1, 40)]
    rows.append((100, _synth_doc(5), 205))            # exact dup of doc 5
    rows.append((101, _synth_doc(7) + " extra", 300))  # near-dup of doc 7, longer
    docs = _docs(spark, rows)
    probe = _docs(spark, [(999, _synth_doc(10), 210)])  # contaminates doc 10
    base = pretrain_corpus(docs, probe).orderBy("doc_id").collect()
    assert len(base) > 0
    kept = {r["doc_id"] for r in base}
    assert 100 not in kept          # exact dup dropped
    assert 7 not in kept and 101 in kept  # near-dup: longer doc survives
    assert 10 not in kept           # decontaminated


def test_simhash_max_hamming_bound_rejected(spark):
    # ADVICE r9: hamming budgets past the 8-band pigeonhole guarantee
    # must raise, not silently under-recall.
    import pytest

    from fairy_spark.operators.dedup import simhash64_pairs

    docs = _docs(spark, [(1, GOOD, len(GOOD))])
    with pytest.raises(ValueError, match="recall"):
        simhash64_pairs(docs, max_hamming=8)
    # the boundary value is fine
    simhash64_pairs(docs, max_hamming=7)


def test_gopher_repetition_stats_known_fractions(spark):
    # doc 1: "ab cd ab cd ab" (lowercased len 14). Word 2-grams:
    # "ab cd" x2, "cd ab" x2 -> top coverage = 2*5 = 10 chars -> 10/14.
    # 5-gram "ab cd ab cd ab" occurs once -> dup5 = 0. keep: top2
    # 0.714 > 0.20 -> False.
    # doc 2: "alpha beta gamma delta epsilon" (len 30): every 2-gram
    # unique -> top coverage = count 1 * len of the longest 2-gram
    # ("gamma delta"/"delta epsilon"... max len = len("delta epsilon")=13)
    # -> 13/30 ≈ 0.433 (still > 0.20: short docs are repetition-dense
    # by construction, which is why Gopher pairs these rules with the
    # 30-word floor); dup5 = 0.
    from fairy_spark.operators.pipeline import gopher_repetition_stats

    docs = spark.createDataFrame(
        [(1, "ab cd ab cd ab"), (2, "alpha beta gamma delta epsilon")],
        "doc_id BIGINT, text STRING",
    )
    rows = {r["doc_id"]: r for r in gopher_repetition_stats(docs).collect()}
    assert rows[1]["top2_char_frac"] == round(10 / 14, 6)
    assert rows[1]["dup5_char_frac"] == 0.0
    assert rows[1]["keep"] is False
    assert rows[2]["top2_char_frac"] == round(13 / 30, 6)
    assert rows[2]["dup5_char_frac"] == 0.0


def test_gopher_repetition_dup5_and_keep(spark):
    # 10 tokens = the same 5-token phrase twice: the 5-gram
    # "a1 b2 c3 d4 e5" occurs twice (positions 1 and 6), every other
    # 5-gram once -> dup5 = 2 * len("aa bb cc dd ee")=2*14=28 over the
    # lowercased doc length 29 -> 28/29 > 0.15 -> keep False.
    from fairy_spark.operators.pipeline import gopher_repetition_stats

    phrase = "aa bb cc dd ee"
    docs = spark.createDataFrame(
        [(1, phrase + " " + phrase)], "doc_id BIGINT, text STRING"
    )
    r = gopher_repetition_stats(docs).collect()[0]
    assert r["dup5_char_frac"] == round(28 / 29, 6)
    assert r["keep"] is False


# --- winnowing fingerprints (operators/text.py::winnow_fingerprints) --------


def _winnow_fps(spark, texts, k=4, w=4):
    from fairy_spark.operators.text import tokenize, winnow_fingerprints

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id BIGINT, text STRING")
    rows = (
        df.select("id", winnow_fingerprints(tokenize(F.col("text")), k=k, w=w).alias("fps"))
        .orderBy("id")
        .collect()
    )
    return [set(r["fps"]) for r in rows]


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # Two docs sharing a k+w-1 = 7-token run MUST share >= 1 fingerprint
    # (the winnowing guarantee, Schleimer et al. 2003 Thm 1).
    shared = "alpha beta gamma delta epsilon zeta eta"
    a, b = _winnow_fps(
        spark,
        [
            "one two three " + shared + " four five six",
            "red green blue " + shared + " cyan magenta yellow",
        ],
    )
    assert a & b, "7-token shared run produced no shared fingerprint"


def test_winnow_disjoint_docs_share_nothing(spark):
    a, b = _winnow_fps(
        spark,
        [
            "one two three four five six seven eight nine ten",
            "red green blue cyan magenta yellow black white pink gray",
        ],
    )
    assert not (a & b)


def test_winnow_compression_and_short_doc_fallback(spark):
    full, short, tiny = _winnow_fps(
        spark,
        [
            " ".join(f"t{i}" for i in range(64)),  # 61 grams, 58 windows
            "a b c d e",                           # 2 grams < w -> single global min
            "a b c",                               # < k tokens -> no fingerprint
        ],
    )
    # winnowing keeps roughly 2/(w+1) of gram hashes: far fewer than 61
    assert 1 <= len(full) < 30
    assert len(short) == 1
    assert len(tiny) == 0


def test_winnow_is_local_prefix_edit_preserves_tail_fingerprints(spark):
    # Locality: editing the FIRST token leaves fingerprints selected
    # from windows past the edit untouched (the property global
    # rolling_fingerprint lacks).
    base = " ".join(f"w{i}" for i in range(40))
    edited = "zzz " + base.split(" ", 1)[1]
    a, b = _winnow_fps(spark, [base, edited])
    assert a & b, "prefix edit destroyed all fingerprints"


# --- content-defined chunking (operators/text.py::cdc_chunks) ---------------


def _cdc(spark, texts, mod=8):
    from fairy_spark.operators.text import cdc_chunks, tokenize

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id BIGINT, text STRING")
    rows = (
        df.select("id", cdc_chunks(tokenize(F.col("text")), mod=mod).alias("ch"))
        .orderBy("id")
        .collect()
    )
    return [list(r["ch"]) for r in rows]


def test_cdc_chunks_partition_the_token_stream(spark):
    text = " ".join(f"tok{i}" for i in range(100))
    (chunks,) = _cdc(spark, [text])
    assert " ".join(chunks) == text.lower()
    assert len(chunks) > 1  # expected chunk length 8 over 100 tokens


def test_cdc_boundary_rule_every_chunk_ends_on_boundary_token(spark):
    from fairy_spark.operators.text import portable_hash64

    text = " ".join(f"tok{i}" for i in range(100))
    (chunks,) = _cdc(spark, [text])
    # recompute the boundary predicate for each chunk's LAST token
    last_toks = [c.split(" ")[-1] for c in chunks]
    df = spark.createDataFrame([(t,) for t in last_toks], "t STRING")
    flags = [
        r["f"]
        for r in df.select(
            (F.pmod(portable_hash64(F.col("t"), "cdc"), F.lit(8)) == 0).alias("f")
        ).collect()
    ]
    # every chunk but possibly the final one ends on a boundary token
    assert all(flags[:-1])


def test_cdc_resyncs_after_prefix_insertion(spark):
    # THE property fixed blocks lack: inserting one token at the front
    # only perturbs chunks up to the next boundary; all later chunks
    # are byte-identical.
    base = " ".join(f"w{i}" for i in range(120))
    edited = "zzz " + base
    a, b = _cdc(spark, [base, edited])
    shared = set(a) & set(b)
    assert len(shared) >= len(a) - 2, (
        f"CDC failed to re-sync: only {len(shared)} of {len(a)} chunks survived a prefix edit"
    )


# --- winnowing best-match join (operators/dedup.py::winnow_best_match) ------


def test_winnow_best_match_finds_embedded_quote(spark):
    from fairy_spark.operators.dedup import winnow_best_match

    quote = " ".join(f"q{i}" for i in range(12))
    rows = [
        (1, "intro words here " + quote + " closing remarks follow now"),
        (2, "totally different document " + quote + " with other framing text"),
        (3, "unrelated content " + " ".join(f"z{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r["id"]: r for r in winnow_best_match(docs).collect()}
    # 1 and 2 share the 12-token quote -> mutual best matches
    assert out[1]["match_id"] == 2 and out[2]["match_id"] == 1
    assert out[1]["shared_fp"] >= 1
    # 3 shares nothing -> no row
    assert 3 not in out


def test_winnow_best_match_stop_fingerprint_cap(spark):
    from fairy_spark.operators.dedup import winnow_best_match

    # the same passage in EVERY doc: with max_df below the doc count,
    # its fingerprints are boilerplate and produce no pairs
    boiler = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(i, f"doc{i} unique prefix tokens {i} " + boiler) for i in range(6)],
        "doc_id BIGINT, text STRING",
    )
    none = winnow_best_match(docs, max_df=3).collect()
    assert none == []
    some = winnow_best_match(docs, max_df=10).collect()
    assert len(some) == 6


def test_new_operator_parameter_guards(spark):
    import pytest as _pytest

    from fairy_spark.operators.dedup import winnow_best_match
    from fairy_spark.operators.multimodal import image_downsample_pool
    from fairy_spark.operators.similarity import jl_project
    from fairy_spark.operators.text import cdc_chunks, winnow_fingerprints

    df = spark.createDataFrame([(1, "a b c")], "doc_id BIGINT, text STRING")
    with _pytest.raises(ValueError):
        winnow_fingerprints(F.split("text", " "), k=0)
    with _pytest.raises(ValueError):
        winnow_fingerprints(F.split("text", " "), w=0)
    with _pytest.raises(ValueError):
        cdc_chunks(F.split("text", " "), mod=0)
    with _pytest.raises(ValueError):
        winnow_best_match(df, min_df=0)
    with _pytest.raises(ValueError):
        winnow_best_match(df, min_df=5, max_df=2)
    with _pytest.raises(ValueError):
        jl_project(F.col("text"), k_out=0)
    with _pytest.raises(ValueError):
        image_downsample_pool(df, in_w=15)
