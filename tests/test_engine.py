"""Engine façade smoke tests — the switchover surface a reference user
drives (SURVEY.md §3.4 entry points): sql / table / kv / catalog /
dedup / similarity / text profile."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fairy_spark.engine import Engine
from fairy_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = Engine(spark=spark)
    eng.attach_testdata(sf_dir)
    return eng


def test_sql_and_table(engine):
    n = engine.sql("SELECT COUNT(*) AS n FROM nation").first()["n"]
    assert n == 25
    assert engine.table("region").count() == 5


def test_kv_through_engine(engine):
    kv = engine.kv("engine_smoke")
    kv.drop()
    kv.put("a", b"1")
    assert kv.get("a") == b"1"
    kv.drop()


def test_dedup_exact_through_engine(engine, spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    kept = engine.dedup_exact(docs)
    n_docs = docs.count()
    n_distinct = docs.select("text").distinct().count()
    assert kept.count() == n_distinct <= n_docs


def test_dedup_near_through_engine(engine, spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = engine.dedup_near(docs, threshold=0.3).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["jaccard"] >= 0.3


def test_similar_topk_methods_agree_on_scores(engine, spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") <= 3)
    brute = {(r["query_id"], r["neighbor_id"]): r["cos"]
             for r in engine.similar_topk(emb, q, k=3, method="brute").collect()}
    for method in ("lsh", "ivf"):
        for r in engine.similar_topk(emb, q, k=3, method=method).collect():
            key = (r["query_id"], r["neighbor_id"])
            if key in brute:
                assert abs(brute[key] - r["cos"]) < 1e-9


def test_text_profile(engine, spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    prof = engine.text_profile(docs)
    rows = prof.select("n_chars", "n_chars_computed", "n_tokens", "stopword_ratio").collect()
    for r in rows:
        assert r["n_chars"] == r["n_chars_computed"]
        assert r["n_tokens"] > 0
        assert 0.0 <= r["stopword_ratio"] <= 1.0


def test_catalog_lifecycle_through_engine(engine, spark):
    df = spark.range(5).withColumnRenamed("id", "x")
    engine.catalog.create_view("engine_v", df)
    assert "engine_v" in engine.catalog.list_tables()
    assert engine.catalog.row_count("engine_v") == 5
    engine.catalog.drop("engine_v")


def test_profile_through_engine(engine, spark, sf_dir):
    p = engine.profile(load_table(spark, sf_dir, "orders"), ["o_custkey", "o_totalprice"])
    rows = {r["col_name"]: r for r in p.collect()}
    assert set(rows) == {"o_custkey", "o_totalprice"}
    assert rows["o_custkey"]["n_nulls"] == 0
    assert rows["o_custkey"]["n_distinct"] > 0


def test_pretrain_corpus_through_engine(engine, spark, sf_dir):
    """The composed pipeline on the caller's own frame: every surviving
    row carries a valid bin/bucket/split, survivors are a subset of the
    input ids, and withholding probe_docs skips decontamination (a
    superset survives)."""
    docs = load_table(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    out = engine.pretrain_corpus(corpus, probe_docs=probe).collect()
    assert out, "pipeline produced no survivors on the testdata corpus"
    in_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    for r in out:
        assert r["doc_id"] in in_ids
        assert r["n_tokens"] > 0
        assert r["bin_id"] >= 0
        assert 0 <= r["bucket"] < 100
        assert r["split"] in ("train", "valid", "test")
        assert r["split"] == (
            "train" if r["bucket"] < 80 else "valid" if r["bucket"] < 90 else "test"
        )

    no_probe = engine.pretrain_corpus(corpus).select("doc_id").collect()
    assert {r["doc_id"] for r in out} <= {r["doc_id"] for r in no_probe}


def test_triangles_through_engine(engine, spark):
    """Engine.triangles: the three modes agree on the count; auto
    reports its pick and the exact wedge row count."""
    import itertools

    import pytest

    edges = list(itertools.combinations(range(5), 2))  # K5: 10 triangles
    pairs = spark.createDataFrame(edges, "u INT, v INT")
    auto = engine.triangles(pairs).collect()[0]
    assert auto.plan == "plain" and auto.n_triangles == 10 and auto.n_wedges == 10
    assert engine.triangles(pairs, mode="plain").collect()[0].n_triangles == 10
    assert engine.triangles(pairs, mode="capped").collect()[0].n_triangles == 10
    with pytest.raises(ValueError, match="mode"):
        engine.triangles(pairs, mode="bogus")


def test_pretrain_corpus_scale_geometry_through_engine(engine, spark, sf_dir):
    """The (16,2) production geometry flows through the Engine knob —
    same contract shape as the default geometry (VERDICT r9 #1)."""
    docs = load_table(spark, sf_dir, "documents")
    out = engine.pretrain_corpus(docs, num_hashes=16, band_rows=2).collect()
    assert out, "scale-geometry pipeline produced no survivors"
    for r in out[:20]:
        assert r["split"] in ("train", "valid", "test")


def test_engine_cdc_fingerprints_source_report(spark, sf_dir):
    from fairy_spark.engine import Engine
    from fairy_spark.queries import QUERIES
    from fairy_spark.sources.tables import load_table

    eng = Engine(spark)
    docs = load_table(spark, sf_dir, "documents").limit(50)
    ch = eng.dedup_cdc(docs)
    assert "chunk" in ch.columns and ch.count() > 50
    fp = eng.fingerprints(docs)
    assert fp.filter("size(fingerprints) = 0").count() == 0
    # façade == registered query on the same frame
    rep = eng.source_report(load_table(spark, sf_dir, "documents")).collect()
    reg = QUERIES["pipeline_source_report"](spark, sf_dir).collect()
    assert rep == reg


def test_pretrain_corpus_facade_matches_production_row(engine, spark, sf_dir):
    """The façade and the registered production row are one call to
    operators/pipeline.py pretrain_corpus: on the same documents, probe
    set and (16,2) geometry they give the same rows."""
    from fairy_spark.queries import QUERIES

    d = load_table(spark, sf_dir, "documents")
    got = engine.pretrain_corpus(
        d.select("doc_id", "text", "n_chars"),
        probe_docs=d.filter(F.col("doc_id") % 97 == 0),
        num_hashes=16,
        band_rows=2,
    ).orderBy("doc_id").collect()
    reg = QUERIES["pipeline_pretrain_corpus_staged_scale"](spark, sf_dir).collect()
    assert got and got == reg


def test_langid_through_engine(engine, spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and a dog"),
            (2, "der hund ist zu den haus von mit nicht"),
            (3, "zzz qqq xxx"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in engine.langid(docs).collect()}
    assert out[1]["pred_lang"] == "en" and out[1]["hits_en"] >= 4
    assert out[2]["pred_lang"] == "de"
    assert out[3]["pred_lang"] == "unk" and out[3]["conf_ppm"] == 0


def test_dedup_lines_through_engine(engine, spark):
    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id BIGINT, text STRING"
    )
    out = {r["doc_id"]: r["kept_text"] for r in engine.dedup_lines(docs).collect()}
    assert out == {1: "a\nb", 2: "c"}
    delta = spark.createDataFrame([(3, "c\nd")], "doc_id BIGINT, text STRING")
    app = engine.dedup_lines(docs, delta_docs=delta).collect()
    assert [(r["doc_id"], r["kept_text"]) for r in app] == [(3, "d")]


def test_dedup_media_through_engine(engine, spark, sf_dir):
    from fairy_spark.operators.multimodal import media_table_from_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 82)
    media = media_table_from_documents(docs)
    img = engine.dedup_media(media, kind="image").collect()
    aud = engine.dedup_media(media, kind="audio").collect()
    assert all(r["hamming"] <= 3 and r["id_a"] < r["id_b"] for r in img + aud)
    with pytest.raises(ValueError, match="image|audio"):
        engine.dedup_media(media, kind="video")
