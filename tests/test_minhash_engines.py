"""Arrow-vs-HOF equality gate for the minhash signature index build.

minhash_lsh_candidates ships the Arrow builder (_shingled_sig_arrow:
C-speed tokenize + shingle + md5-window minhash inside mapInPandas
batches) with the pure-JVM HOF construction retained as the reference
(_shingled_sig_hof). The two must agree exactly — same shingle sets in
first-occurrence order, same 60-bit md5-window signature values, same
all-null signature for shingle-less docs — on testdata, synthetic
corpora, and edge rows, and the end-to-end candidate output must be
unchanged from the r1-r4 HOF era (the DuckDB oracle pins that too).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from fairy_spark.operators.dedup import _shingled_sig_arrow, _shingled_sig_hof
from fairy_spark.testing.synth import synth_documents

SF_DIR = "/root/testdata/sf0.01"


def _rows(df):
    return {
        (r["id"], tuple(r["shingles"]), tuple(r["sig"]))
        for r in df.select("id", "shingles", "sig").collect()
    }


@pytest.mark.parametrize("num_hashes", [8, 18])
def test_sig_builders_equal_on_testdata(spark, num_hashes):
    """18 is the widest setting: window offset 17 still reads a full 15
    hex chars (chars 18-32 of the digest), and both engines accept it."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = _rows(_shingled_sig_arrow(docs, "doc_id", "text", 3, num_hashes, []))
    h = _rows(_shingled_sig_hof(docs, "doc_id", "text", 3, num_hashes, []))
    assert a == h and len(a) > 0


def test_sig_builders_equal_with_blocks_and_edges(spark):
    docs = synth_documents(spark, 300).unionByName(
        spark.createDataFrame(
            [
                Row(doc_id=9001, text="one two", lang="en", source="s", n_chars=7),
                Row(doc_id=9002, text="", lang="en", source="s", n_chars=0),
                Row(doc_id=9003, text="  pad  ded  ", lang="en", source="s", n_chars=12),
            ]
        )
    ).withColumn("len_bucket", F.expr("n_chars div 50"))
    kw = dict(shingle_n=3, num_hashes=8, block=["source", "len_bucket"])
    a = _shingled_sig_arrow(docs, "doc_id", "text", **kw)
    h = _shingled_sig_hof(docs, "doc_id", "text", **kw)

    def keyed(df):
        return {
            (r["id"], r["source"], r["len_bucket"], tuple(r["shingles"]), tuple(r["sig"]))
            for r in df.collect()
        }

    assert keyed(a) == keyed(h)
    # shingle-less docs carry ALL-NULL signatures (banding filter relies on it)
    empties = {r["id"]: tuple(r["sig"]) for r in a.filter(F.size("shingles") == 0).collect()}
    assert empties.get(9001) == (None,) * 8 and empties.get(9002) == (None,) * 8


def test_block_keyed_cache_detects_corpus_mutation_under_same_key(spark):
    """VERDICT r5 #8: the BLOCK-KEYED variant (block_cols set, the
    n-gram-Jaccard shape) must record the corpus fingerprint on its
    cache path too — mutating the corpus under the same cache_key has
    to raise StaleSignatureIndex exactly like the plain variant."""
    import pytest

    from fairy_spark.operators import dedup

    rows = [
        (i, f"tok{i} alpha beta gamma delta tok{i}", f"src{i % 2}")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    dedup.clear_signature_cache(spark)
    try:
        dedup.minhash_lsh_candidates(
            docs, cache_key="blk-k", block_cols=["source"]
        ).count()
        # unchanged corpus: warm hit, no error
        dedup.minhash_lsh_candidates(
            docs, cache_key="blk-k", block_cols=["source"]
        ).count()
        mutated = docs.unionByName(
            spark.createDataFrame(
                [(99, "omega zeta eta theta iota", "src0")],
                ["doc_id", "text", "source"],
            )
        )
        with pytest.raises(dedup.StaleSignatureIndex, match="fingerprint changed"):
            dedup.minhash_lsh_candidates(
                mutated, cache_key="blk-k", block_cols=["source"]
            )
        # same key, DIFFERENT block_cols is a distinct index (fp includes
        # the block tuple) — builds fresh over the mutated corpus, no trip
        dedup.minhash_lsh_candidates(mutated, cache_key="blk-k").count()
    finally:
        dedup.clear_signature_cache(spark)


def test_dedup_lines_first_occurrence_survives(spark):
    """RefinedWeb line dedup semantics on a hand-built corpus: the
    smallest (doc_id, line_no) occurrence of each line survives,
    in-doc repeats are dropped too, empty lines are never deduped,
    and kept_text preserves original line order."""
    from fairy_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "a\nb\na"), (2, "b\nc\n\nd"), (3, "\nc")],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert (out[1]["n_lines"], out[1]["n_kept"], out[1]["kept_text"]) == (3, 2, "a\nb")
    # doc2: 'b' already seen in doc1; empty line kept unconditionally
    assert (out[2]["n_lines"], out[2]["n_kept"], out[2]["kept_text"]) == (4, 3, "c\n\nd")
    # doc3: 'c' seen in doc2; only the (kept) empty line remains
    assert (out[3]["n_lines"], out[3]["n_kept"], out[3]["kept_text"]) == (2, 1, "")


def test_dedup_lines_min_line_chars_threshold(spark):
    """Lines shorter than min_line_chars are exempt from dedup (kept
    everywhere), longer ones dedup corpus-wide."""
    from fairy_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "xy\nlongline"), (2, "xy\nlongline")], "doc_id BIGINT, text STRING"
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs, min_line_chars=3).collect()}
    assert out[1]["kept_text"] == "xy\nlongline"
    assert out[2]["kept_text"] == "xy"  # short 'xy' exempt, longline deduped


def test_dedup_lines_append_equals_full_build_restricted(spark):
    """The incremental contract: with delta ids after base ids,
    append(base, delta) == dedup_lines(base ∪ delta) restricted to
    the delta docs — in-delta repeats, base-seen lines, and exempt
    empty lines all behave identically."""
    from fairy_spark.operators.dedup import dedup_lines, dedup_lines_append

    base = spark.createDataFrame(
        [(1, "a\nb"), (2, "c\n\nb")], "doc_id BIGINT, text STRING"
    )
    delta = spark.createDataFrame(
        [(3, "b\nd\nd"), (4, "d\n\ne\na")], "doc_id BIGINT, text STRING"
    )
    full = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_text"])
        for r in dedup_lines(base.unionByName(delta)).collect()
        if r["doc_id"] >= 3
    }
    app = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_text"])
        for r in dedup_lines_append(base, delta).collect()
    }
    assert app == full
    assert app[3] == (3, 1, "d")  # 'b' seen in base, 2nd 'd' in-delta dup
    # doc4 = [d, '', e, a]: 'd' delta-first in doc3, 'a' in base, empty
    # line exempt, 'e' genuinely new
    assert app[4] == (4, 2, "\ne")


def test_dedup_lines_near_threshold_and_greedy_semantics(spark):
    """Fuzzy line dedup (r13): an exact repeat drops (J=1), a
    one-token mutation of an 8-token line drops (shares 5 of 7
    shingles, J=5/7 >= 1/2), a two-token mutation survives (J=1/11),
    empty lines always survive, and a line near an ALREADY-DROPPED
    exact repeat still drops (the comparison set is first-occurrence
    representatives, not surviving lines)."""
    from fairy_spark.operators.dedup import dedup_lines_near

    base = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, base + "\n\nx y z w"),
            # exact dup of base; 1-mutation of base; unique; empty
            (2, base + "\na b c d e f g q\np q r s t u\n"),
            # 2-mutation of base: shares only 'f g h' -> J = 1/11, kept
            (3, "a q c d w f g h"),
            # near the doc-2 EXACT DUP occurrence of base (itself
            # dropped): still drops, via base's doc-1 representative
            (4, "a b c d e f g z"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in dedup_lines_near(docs).collect()}
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    assert out[1]["kept_text"] == base + "\n\nx y z w"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (4, 2)
    assert out[2]["kept_text"] == "p q r s t u\n"
    assert (out[3]["n_lines"], out[3]["n_kept"], out[3]["kept_text"]) == (1, 1, "a q c d w f g h")
    assert (out[4]["n_lines"], out[4]["n_kept"], out[4]["kept_text"]) == (1, 0, "")


def test_dedup_lines_near_subsumes_exact_on_testdata(spark, sf_dir):
    """On the pseudo-line corpus the fuzzy pass never keeps MORE than
    the exact pass (exact repeats have J=1) and drops strictly more
    when mutation strata exist; totals per doc stay consistent."""
    from pyspark.sql import functions as F

    from fairy_spark.operators.dedup import dedup_lines, dedup_lines_near
    from fairy_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "array_join(transform(sequence(0, (size(split(text, ' ')) + 11) div 12 - 1), "
            "g -> array_join(slice(split(text, ' '), g*12+1, 12), ' ')), chr(10))"
        ).alias("text"),
    )
    e = dedup_lines(docs).select("doc_id", F.col("n_kept").alias("ek"), "n_lines")
    n = dedup_lines_near(docs).select("doc_id", F.col("n_kept").alias("nk"))
    j = e.join(n, "doc_id")
    assert j.filter(F.col("nk") > F.col("ek")).count() == 0
    assert j.filter(F.col("nk") < F.col("ek")).count() > 0  # real near-drops
    assert j.filter(F.col("nk") > F.col("n_lines")).count() == 0


def test_dedup_lines_near_append_equals_full_restricted(spark):
    """Greedy fuzzy survivorship is prefix-stable, so the incremental
    leg equals the full build restricted to delta docs — including a
    CROSS-BATCH fuzzy drop (a delta line near a base line) and a
    delta-internal one."""
    from fairy_spark.operators.dedup import dedup_lines_near, dedup_lines_near_append

    base = spark.createDataFrame(
        [(1, "a b c d e f g h\nm n o p q r s t"), (2, "x y z w v u t s")],
        "doc_id BIGINT, text STRING",
    )
    delta = spark.createDataFrame(
        [
            # near base doc1 line0 (1 mutation); unique; empty
            (10, "a b c d e f g q\nk l m n o p q r\n"),
            # exact repeat of a delta line + near a delta line
            (11, "k l m n o p q r\nk l m n o p q z"),
        ],
        "doc_id BIGINT, text STRING",
    )
    inc = sorted(map(tuple, dedup_lines_near_append(base, delta).collect()))
    full = sorted(
        map(
            tuple,
            dedup_lines_near(base.unionByName(delta))
            .filter("doc_id >= 10")
            .collect(),
        )
    )
    assert inc == full
    by_id = {r[0]: r for r in inc}
    # doc10 line0 drops near base line0 (J=5/7); line1 "k l m n o p q
    # r" drops near base line1 "m n o p q r s t" (a 2-token shift:
    # shared {mno,nop,opq,pqr} of 8 -> J exactly 1/2); the empty line
    # survives
    assert by_id[10][1:] == (3, 1, "")
    assert by_id[11][1:] == (2, 0, "")  # exact + fuzzy delta-internal drops
    # base_index form (the streaming leg's durable signature table)
    # equals the base_docs form; passing both or neither raises
    import pytest as _pytest

    from fairy_spark.operators.dedup import line_near_index

    idx = line_near_index(base)
    via_idx = sorted(
        map(tuple, dedup_lines_near_append(None, delta, base_index=idx).collect())
    )
    assert via_idx == inc
    with _pytest.raises(ValueError, match="exactly one"):
        dedup_lines_near_append(base, delta, base_index=idx)
    with _pytest.raises(ValueError, match="exactly one"):
        dedup_lines_near_append(None, delta)


def test_dedup_lines_append_digest_index_form_equivalent(spark):
    """The base_digs form (the streaming leg's durable digest index)
    equals the base_docs form; passing both or neither raises."""
    import pytest
    from pyspark.sql import functions as F

    from fairy_spark.operators.dedup import dedup_lines_append

    base = spark.createDataFrame([(1, "a\nb\nc")], "doc_id BIGINT, text STRING")
    delta = spark.createDataFrame([(2, "b\nd\nd")], "doc_id BIGINT, text STRING")
    digs = (
        base.select(F.explode(F.split("text", "\n")).alias("_line"))
        .select(F.md5("_line").alias("_dig"))
    )
    # duplicate digest rows must be tolerated (distinct'd inside)
    digs = digs.unionByName(digs)
    a = sorted(map(tuple, dedup_lines_append(base, delta).collect()))
    b = sorted(map(tuple, dedup_lines_append(None, delta, base_digs=digs).collect()))
    assert a == b == [(2, 3, 1, "d")]
    with pytest.raises(ValueError, match="exactly one"):
        dedup_lines_append(base, delta, base_digs=digs)
    with pytest.raises(ValueError, match="exactly one"):
        dedup_lines_append(None, delta)
