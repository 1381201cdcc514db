"""Similarity-search property tests: ANN vs brute-force ground truth,
approx-distinct error bound, multimodal strict-mode stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fairy_spark.operators.similarity import brute_force_topk, lsh_topk
from fairy_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_lsh_results_subset_of_corpus_and_ranked(spark, emb):
    q = emb.filter(F.col("vec_id") <= 10)
    rows = lsh_topk(emb, q, k=5).collect()
    assert rows
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_query.items():
        rns = [r["rn"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert rns == list(range(1, len(rns) + 1))
        coss = [r["cos"] for r in sorted(rs, key=lambda r: r["rn"])]
        assert coss == sorted(coss, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rs)


def test_lsh_cos_values_match_brute_force(spark, emb):
    """Every (query, neighbor) the ANN returns must carry the same
    cosine the exact path computes — approximation affects recall,
    never scores."""
    q = emb.filter(F.col("vec_id") <= 10)
    ann = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in lsh_topk(emb, q, k=5).collect()}
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in brute_force_topk(emb, q, k=500).collect()
    }
    for key, cos in ann.items():
        assert key in exact
        assert abs(exact[key] - cos) < 1e-9


def test_approx_count_distinct_bounded_error(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_multimodal_strict_decode_raises(spark, sf_dir):
    from fairy_spark.operators.multimodal import decode_and_featurize, media_table_from_documents

    docs = load_table(spark, sf_dir, "documents").limit(5)
    media = media_table_from_documents(docs)
    from py4j.protocol import Py4JJavaError
    import pyspark.errors

    with pytest.raises(Exception) as exc:
        decode_and_featurize(media, decode_mode="strict").collect()
    assert "NotImplementedError" in str(exc.value) or "decode requires" in str(exc.value)


def test_ivf_results_ranked_and_score_exact(spark, emb):
    """IVF ANN: ranked output, no self-matches, and every returned
    (query, neighbor) carries the exact brute-force cosine —
    approximation affects recall, never scores."""
    from fairy_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") <= 10)
    rows = ivf_topk(emb, q, k=5, n_clusters=8, n_probe=2).collect()
    assert rows
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in brute_force_topk(emb, q, k=500).collect()
    }
    by_query = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        by_query.setdefault(r["query_id"], []).append(r)
        assert (r["query_id"], r["neighbor_id"]) in exact
        assert abs(exact[(r["query_id"], r["neighbor_id"])] - r["cos"]) < 1e-9
    for qid, rs in by_query.items():
        rns = sorted(r["rn"] for r in rs)
        assert rns == list(range(1, len(rns) + 1))


def test_ivf_full_probe_equals_brute_force(spark, emb):
    """n_probe == n_clusters probes every cluster → exact search: the
    result set must equal brute-force top-k."""
    from fairy_spark.operators.similarity import ivf_topk

    q = emb.filter(F.col("vec_id") <= 5)
    ann = {(r["query_id"], r["neighbor_id"]) for r in
           ivf_topk(emb, q, k=5, n_clusters=4, n_probe=4).collect()}
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          brute_force_topk(emb, q, k=5).collect()}
    assert ann == bf


def test_pq_adc_codes_and_ranking_shape(spark, emb):
    """PQ-ADC: every query gets a dense 1..k ranking of corpus ids,
    self is excluded, and ADC distances are non-negative and
    non-decreasing in rank (the table-sum distance is a sum of
    integer squared L2 terms)."""
    from fairy_spark.operators.similarity import pq_adc_topk

    rows = pq_adc_topk(emb.filter(F.col("vec_id") < 64), k=4).collect()
    assert rows
    by_query = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert r["adc_d2"] >= 0
        by_query.setdefault(r["query_id"], []).append(r)
    for _, rs in by_query.items():
        rs.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        d = [r["adc_d2"] for r in rs]
        assert d == sorted(d)


def test_pq_adc_single_subspace_equals_exact_l2(spark, emb):
    """With ONE subspace covering all 64 dims and a codebook as large
    as the corpus, every vector is its own centroid, the ADC table IS
    the exact pairwise distance table, and PQ ranking must equal exact
    integer-L2 ranking."""
    from fairy_spark.operators.similarity import (
        int_l2sq,
        pq_adc_topk,
        quantized_vec,
    )

    e = emb.filter(F.col("vec_id") < 16)
    pq = {
        (r["query_id"], r["rn"]): (r["neighbor_id"], r["adc_d2"])
        for r in pq_adc_topk(
            e, k=3, n_sub=1, n_codes=16, n_queries=4
        ).collect()
    }
    c = e.select(F.col("vec_id").alias("_id"), quantized_vec(F.col("embedding")).alias("_q"))
    q = c.filter(F.col("_id") < 4)
    exact = (
        q.withColumnRenamed("_id", "query_id").withColumnRenamed("_q", "_qq")
        .join(c.withColumnRenamed("_id", "neighbor_id").withColumnRenamed("_q", "_nq"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", int_l2sq(F.col("_qq"), F.col("_nq")).alias("d2"))
        .collect()
    )
    by_q = {}
    for r in exact:
        by_q.setdefault(r["query_id"], []).append((r["d2"], r["neighbor_id"]))
    for qid, ds in by_q.items():
        ds.sort()
        for rn in (1, 2, 3):
            assert pq[(qid, rn)] == (ds[rn - 1][1], ds[rn - 1][0])


# --- Johnson-Lindenstrauss ternary projection (jl_project) ------------------


def test_jl_project_matches_numpy_exactly(spark, emb):
    import math

    import numpy as np

    from fairy_spark.operators.similarity import jl_matrix, jl_project

    rows = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding", jl_project(F.col("embedding")).alias("proj"))
        .orderBy("vec_id")
        .collect()
    )
    R = np.array(jl_matrix(16, 64), dtype=np.int64)
    for r in rows:
        q = np.array([math.floor(float(x) * 1024) for x in r["embedding"]], dtype=np.int64)
        assert list(R @ q) == list(r["proj"]), f"vec {r['vec_id']} mismatch"


def test_jl_project_wrong_dims_raises(spark):
    # ADVICE r10: a dims/vector-length mismatch must raise per-row, not
    # silently NULL every projection component via zip_with null-pad.
    import pytest

    from fairy_spark.operators.similarity import jl_project

    df = spark.createDataFrame([(1, [0.5] * 64)], "id BIGINT, v ARRAY<FLOAT>")
    with pytest.raises(Exception, match="jl_project: dims=32"):
        df.select(jl_project(F.col("v"), k_out=4, dims=32).alias("p")).collect()


def test_jl_project_null_vector_passes_through(spark):
    # ADVICE r11: a NULL vector must project to NULL (the pre-guard
    # behavior), not trip the dims guard's raise_error — size(NULL) is
    # NULL, so the guard needs an explicit isNull branch.
    from fairy_spark.operators.similarity import jl_project

    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None)], "id BIGINT, v ARRAY<FLOAT>"
    )
    rows = {
        r["id"]: r["p"]
        for r in df.select(
            "id", jl_project(F.col("v"), k_out=4, dims=64).alias("p")
        ).collect()
    }
    assert rows[2] is None
    assert rows[1] is not None and len(rows[1]) == 4


def test_ivf_append_empty_delta_equals_full_build(spark, emb):
    """ivf_mips_append's exact invariant: with an empty delta it IS
    ivf_mips_topk at the same geometry (same quantizer build, same
    probe/score code path)."""
    from fairy_spark.operators.similarity import ivf_mips_append, ivf_mips_topk

    q = emb.filter(F.col("vec_id") <= 5)
    empty = emb.filter(F.lit(False))
    a = (
        ivf_mips_append(emb, empty, q, k=3, n_clusters=4, n_probe=2)
        .orderBy("query_id", "rn")
        .collect()
    )
    b = (
        ivf_mips_topk(emb, q, k=3, n_clusters=4, n_probe=2)
        .orderBy("query_id", "rn")
        .collect()
    )
    assert a == b


def test_ivf_append_delta_searchable_without_recluster(spark, emb):
    """Appended delta vectors are assigned to the base-built centroids
    and become retrievable neighbors; the quantizer itself is built
    from the base only (seeds are base members)."""
    from fairy_spark.operators.similarity import ivf_mips_append

    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    q = emb.filter(F.col("vec_id") <= 5)
    out = ivf_mips_append(base, delta, q, k=5, n_clusters=4, n_probe=4).collect()
    assert out and any(r["neighbor_id"] % 5 == 4 for r in out)


def test_ivf_centroid_pool_bounded_across_calls(spark, emb, monkeypatch):
    # ADVICE r11: repeated IVF builds must not accumulate persisted
    # Lloyd frames without bound — each build's final frame joins the
    # shared persisted-frame FIFO (operators/pool.py), which keeps at
    # most _CAP frames. ADVICE r12: within the cap, a new build must
    # NOT evict an earlier build's final frame (its returned DataFrame
    # may still be lazy).
    from fairy_spark.operators import pool
    from fairy_spark.operators import similarity as S

    monkeypatch.setattr(pool, "_CAP", 4)
    q = emb.filter(F.col("vec_id") <= 3)
    try:
        pool.clear_pool()
        S.ivf_mips_topk(emb, q, k=3, n_clusters=4, n_probe=2).count()
        (first_final,) = pool._PERSISTED
        S.ivf_mips_topk(emb, q, k=3, n_clusters=4, n_probe=2).count()
        assert len(pool._PERSISTED) == 2
        assert first_final.storageLevel.useMemory
        for _ in range(pool._CAP):
            S.ivf_mips_topk(emb, q, k=3, n_clusters=4, n_probe=2).count()
        assert len(pool._PERSISTED) == pool._CAP
        # cap more builds ran, so the first build's frame was evicted
        # FIFO — eviction order is oldest-first, never the newest.
        assert first_final not in pool._PERSISTED
        assert not first_final.storageLevel.useMemory
        assert pool._PERSISTED[-1].storageLevel.useMemory
    finally:
        pool.clear_pool()


def test_ivf_delete_empty_tombstones_equals_topk(spark, emb):
    """With nothing tombstoned the delete leg IS ivf_mips_topk (same
    seeds, same Lloyd, same scoring code) plus the decision columns
    (0 deleted, keep branch)."""
    from fairy_spark.operators.similarity import ivf_mips_delete, ivf_mips_topk

    q = emb.filter(F.col("vec_id") <= 5)
    tomb = emb.filter(F.lit(False)).select("vec_id")
    out = ivf_mips_delete(emb, tomb, q, k=5, n_clusters=4, n_probe=2)
    assert out.filter(F.col("retrained") | (F.col("n_deleted") != 0)).count() == 0
    a = sorted(map(tuple, out.select("query_id", "neighbor_id", "dot", "rn").collect()))
    b = sorted(map(tuple, ivf_mips_topk(emb, q, k=5, n_clusters=4, n_probe=2).collect()))
    assert a == b


def test_ivf_delete_tombstoned_ids_never_neighbors(spark, emb):
    from fairy_spark.operators.similarity import ivf_mips_delete

    tomb = emb.filter(F.col("vec_id") % 3 == 1).select("vec_id")
    q = emb.filter(F.col("vec_id") <= 10)
    out = ivf_mips_delete(emb, tomb, q, k=5, n_clusters=4, n_probe=4).collect()
    assert out and all(r["neighbor_id"] % 3 != 1 for r in out)
    assert all(r["retrained"] for r in out)  # 1/2 >= 1/4: compaction branch
    # deleted ids may still QUERY (1, 4, 7, 10 are tombstoned)
    assert any(r["query_id"] % 3 == 1 for r in out)


def test_ivf_delete_retrain_flips_exactly_at_threshold(spark, emb):
    """τ = 1/4 with 40 vectors: deleting 8 gives 8·4 >= 32 (retrain),
    deleting 7 gives 28 < 33 (keep) — the integer cross-multiply
    flips exactly at the boundary, no float ratio fuzz."""
    from fairy_spark.operators.similarity import ivf_mips_delete

    e40 = emb.filter(F.col("vec_id") < 40)
    q = e40.filter(F.col("vec_id") >= 38)
    for n_dead, expect in [(8, True), (7, False)]:
        tomb = e40.filter(F.col("vec_id") < n_dead).select("vec_id")
        row = ivf_mips_delete(e40, tomb, q, k=3, n_clusters=4, n_probe=2).first()
        assert row["retrained"] is expect and row["n_deleted"] == n_dead


def test_jl_pairwise_distances_preserved_in_expectation(spark, emb):
    # JL with k=16: squared pair distances scaled by 3/k concentrate
    # around the originals. Check the MEAN ratio over a bounded pair
    # slice is within +-35% (deterministic matrix, fixed data - this
    # is a regression pin, not a statistical test).
    import numpy as np

    from fairy_spark.operators.similarity import jl_matrix

    vecs = {
        r["vec_id"]: np.array([np.floor(np.float64(x) * 1024) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 24).collect()
    }
    R = np.array(jl_matrix(16, 64), dtype=np.int64)
    ratios = []
    ids = sorted(vecs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = vecs[ids[i]] - vecs[ids[j]]
            od = float(d @ d)
            pd_ = float((R @ d) @ (R @ d))
            if od > 0:
                ratios.append(3.0 * pd_ / (16.0 * od))
    m = sum(ratios) / len(ratios)
    assert 0.65 < m < 1.35, f"mean JL ratio {m}"


# --- multimodal image downsample (image_downsample_pool) --------------------


def test_image_downsample_pool_exact_pixel_algebra(spark):
    import numpy as np

    from fairy_spark.operators.multimodal import image_downsample_pool

    # 16x5 "image" (80 bytes) + 7 tail bytes that must be truncated;
    # odd height 5 -> bottom row dropped by the 2x2 pool
    rng = np.random.RandomState(7)
    raw = rng.randint(0, 256, 87).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(raw.tobytes()))], "media_id LONG, payload BINARY"
    )
    (row,) = image_downsample_pool(df, in_w=16).collect()
    assert (row["in_w"], row["in_h"], row["out_w"], row["out_h"]) == (16, 5, 8, 2)
    img = raw[:80].reshape(5, 16).astype(np.int64)[:4]
    pooled = (img[0::2, 0::2] + img[0::2, 1::2] + img[1::2, 0::2] + img[1::2, 1::2]) // 4
    cs = 0
    for v in pooled.ravel().tolist():
        cs = (cs * 131 + int(v)) % 1000000007
    assert row["n_out_bytes"] == 16
    assert row["pool_checksum"] == cs


def test_image_downsample_pool_short_payload_degenerates(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"0123456789")), (2, None)], "media_id LONG, payload BINARY"
    )
    rows = {r["media_id"]: r for r in image_pool_rows(spark, df)}
    for mid in (1, 2):
        r = rows[mid]
        assert (r["out_w"], r["out_h"], r["n_out_bytes"], r["pool_checksum"]) == (0, 0, 0, 0)


def image_pool_rows(spark, df):
    from fairy_spark.operators.multimodal import image_downsample_pool

    return image_downsample_pool(df, in_w=16).collect()


def test_image_dhash_exact_bit_algebra_and_short_drop(spark):
    import numpy as np

    from fairy_spark.operators.multimodal import image_dhash

    rng = np.random.RandomState(12)
    raw = rng.randint(0, 256, 50).astype(np.uint8)  # 45 needed + 5 tail
    df = spark.createDataFrame(
        [(1, bytearray(raw.tobytes())), (2, bytearray(b"short"))],
        "media_id LONG, payload BINARY",
    )
    rows = image_dhash(df, in_w=9, rows=5).collect()
    assert [r["media_id"] for r in rows] == [1]  # short payload dropped
    grid = raw[:45].reshape(5, 9).astype(np.int64)
    expect = sum(
        (1 << (r * 8 + c))
        for r in range(5)
        for c in range(8)
        if grid[r, c] < grid[r, c + 1]
    )
    assert rows[0]["dhash"] == expect


def test_media_standin_payloads_are_ascii_single_byte(spark, sf_dir):
    # ADVICE r12 pin: the media-dedup oracles read "pixels"/"samples"
    # via ord(substr(text, i, 1)) — one CHARACTER per byte — which is
    # only valid while the fixture corpus is pure ASCII. The query
    # side now gates on octet_length (bytes), so a non-ASCII corpus
    # fails HERE loudly instead of silently diverging in hash bits
    # (media_table_from_documents documents the assumption).
    docs = load_table(spark, sf_dir, "documents")
    bad = docs.filter(F.octet_length("text") != F.length("text")).count()
    assert bad == 0


def test_image_dhash_geometry_guard(spark):
    from fairy_spark.operators.multimodal import image_dhash

    df = spark.createDataFrame([(1, bytearray(b""))], "media_id LONG, payload BINARY")
    with pytest.raises(ValueError, match="positive BIGINT"):
        image_dhash(df, in_w=9, rows=8)  # 64 bits would go negative


def test_hamming_pairs_guards_and_exactness(spark):
    from fairy_spark.operators.dedup import hamming_pairs

    sig = spark.createDataFrame(
        [(1, 0b0000000000), (2, 0b0000000011), (3, 0b1111100000)],
        "doc_id LONG, sig LONG",
    )
    with pytest.raises(ValueError, match="does not split"):
        hamming_pairs(sig, bits=10, n_bands=4)
    with pytest.raises(ValueError, match="recall"):
        hamming_pairs(sig, bits=10, n_bands=2, max_hamming=2)
    # 5 bands x 2 bits: (1,2) differ in 2 bits of one band and agree on
    # the rest -> candidate, hamming 2 kept; 3 is 5 resp. 7 bits away
    # from 1 and 2 -> filtered even where a band happens to collide
    out = hamming_pairs(sig, bits=10, n_bands=5, max_hamming=2).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in out] == [(1, 2, 2)]


def test_audio_fingerprint_exact_energy_algebra(spark):
    import numpy as np

    from fairy_spark.operators.multimodal import audio_fingerprint

    rng = np.random.RandomState(3)
    raw = rng.randint(0, 256, 90).astype(np.uint8)  # 82 needed + 8 tail
    df = spark.createDataFrame(
        [(1, bytearray(raw.tobytes())), (2, bytearray(b"too short"))],
        "media_id LONG, payload BINARY",
    )
    rows = audio_fingerprint(df, n_windows=41, window_bytes=2).collect()
    assert [r["media_id"] for r in rows] == [1]  # short payload dropped
    s = raw[:82].astype(np.int64) - 128
    e = (s * s).reshape(41, 2).sum(axis=1)
    expect = sum((1 << i) for i in range(40) if e[i] < e[i + 1])
    assert rows[0]["fingerprint"] == expect
    with pytest.raises(ValueError, match="positive BIGINT"):
        audio_fingerprint(df, n_windows=64)


def test_hamming_pairs_append_replay_equals_full(spark):
    """Replaying a fingerprint corpus through hamming_pairs_append in
    ARBITRARY batch order (ids interleaved across batches) emits every
    pair exactly once; the union over batches equals the one-shot
    hamming_pairs result."""
    from fairy_spark.operators.dedup import hamming_pairs, hamming_pairs_append

    sigs = [(i, (i % 7) * 3 + (i % 2)) for i in range(1, 21)]  # heavy collisions
    full_df = spark.createDataFrame(sigs, "doc_id LONG, sig LONG")
    full = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_pairs(full_df, bits=8, n_bands=4, max_hamming=2).collect()
    }
    batches = [sigs[0::3], sigs[1::3], sigs[2::3]]  # interleaved, not sorted
    seen, emitted = [], []
    for b in batches:
        base = spark.createDataFrame(seen, "doc_id LONG, sig LONG") if seen else (
            spark.createDataFrame([], "doc_id LONG, sig LONG")
        )
        delta = spark.createDataFrame(b, "doc_id LONG, sig LONG")
        emitted += [
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs_append(
                base, delta, bits=8, n_bands=4, max_hamming=2
            ).collect()
        ]
        seen += b
    assert len(emitted) == len(set(emitted)), "a pair was emitted twice"
    assert set(emitted) == full


def test_hamming_probe_pruned_base_equals_full_append(spark):
    """VERDICT r12 #5 losslessness pin: probing with the base index
    PRE-PRUNED to the delta's touched (band_id, band_val % 16) buckets
    yields exactly hamming_pairs_append's pairs — a base band row
    outside the delta's bucket set can never satisfy the band
    equi-join, so partition pruning drops only dead weight."""
    from fairy_spark.operators.dedup import (
        band_fingerprints,
        hamming_pairs,
        hamming_pairs_append,
        hamming_pairs_probe,
    )

    # 8 spread cluster centers, members at hamming <= 2 of their
    # center: plentiful true pairs AND base-only buckets (the flipped
    # bit positions differ between base and delta members, so pruning
    # has real rows to drop — 95 of 100 base band rows survive).
    centers = [(j * 76861433640) % (1 << 40) for j in range(8)]
    sigs = [
        (i, (centers[i % 8] ^ (1 << (i % 40))) if i % 3 == 0 else centers[i % 8])
        for i in range(1, 41)
    ]
    df = spark.createDataFrame(sigs, "doc_id LONG, sig LONG")
    base = df.filter(F.col("doc_id") <= 25)
    delta = df.filter(F.col("doc_id") > 25)
    kw = dict(bits=40, n_bands=4, max_hamming=3)
    banded_base = band_fingerprints(base, bits=40, n_bands=4)
    touched = {
        (r["band_id"], r["band_val"] % 16)
        for r in band_fingerprints(delta, bits=40, n_bands=4)
        .select("band_id", "band_val")
        .distinct()
        .collect()
    }
    pred = F.lit(False)
    for bid, bkt in sorted(touched):
        pred = pred | (
            (F.col("band_id") == F.lit(bid)) & (F.col("band_val") % 16 == F.lit(bkt))
        )
    pruned = banded_base.filter(pred)
    assert pruned.count() < banded_base.count()  # pruning really dropped rows
    got = sorted(map(tuple, hamming_pairs_probe(pruned, delta, **kw).collect()))
    want = sorted(map(tuple, hamming_pairs_append(base, delta, **kw).collect()))
    assert got == want and got
    # and the union over (append pairs + base-only pairs) is the full join
    base_only = hamming_pairs(base, **kw)
    full = sorted(map(tuple, hamming_pairs(df, **kw).collect()))
    assert sorted(set(map(tuple, base_only.collect())) | set(want)) == full


def test_ivf_persisted_search_equals_fresh_and_prunes(spark, emb, tmp_path):
    """r13 durable-index contract: persist -> reload -> search equals
    ivf_mips_topk exactly, and the assignments scan reads only the
    probed clusters' partition dirs (execution-real numPartitions
    metric), never the whole stored index."""
    from fairy_spark.operators.similarity import (
        ivf_mips_persist_and_search,
        ivf_mips_topk,
    )

    q = emb.filter(F.col("vec_id") <= 5)
    out = ivf_mips_persist_and_search(
        emb, q, str(tmp_path / "idx"), k=5, n_clusters=8, n_probe=2
    )
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, ivf_mips_topk(emb, q, k=5, n_clusters=8, n_probe=2).collect()))
    assert got == want and got
    # pruning: walk the executed plan for the assignments scan metric
    vals, stack = [], [out._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        nm = n.nodeName()
        if nm == "AdaptiveSparkPlan":
            stack.append(n.executedPlan())
        elif nm.endswith("QueryStage"):  # AQE stages hide children()
            stack.append(n.plan())
        elif nm == "ReusedExchange":
            stack.append(n.child())
        if nm.startswith("Scan parquet"):
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numPartitions":
                    vals.append(kv._2().value())
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    # exactly one partitioned scan (assignments; centroids is
    # unpartitioned), and its partition count equals the number of
    # DISTINCT probed clusters — the scan read the probe set's dirs,
    # nothing else.
    assert len(vals) == 1
    from fairy_spark.operators.similarity import _mips_centroids, _mips_nearest, _mips_quantize, quantized_vec
    corpus = _mips_quantize(emb, "vec_id", "embedding", 1024)
    cent = _mips_centroids(corpus, 8, 1)
    qq = q.select(F.col("vec_id").alias("query_id"), quantized_vec(F.col("embedding"), 1024).alias("_qq"))
    n_probed = (
        _mips_nearest(qq, "_qq", 2, cent).select("_cid").distinct().count()
    )
    assert vals[0] == n_probed <= 8


def test_ivf_persist_append_equals_inmemory_append(spark, emb, tmp_path):
    """r13 ingest+serve loop: build+persist from base, append the
    delta into the cluster partitions, search the updated stored
    index — equals the in-memory ivf_mips_append exactly (same
    quantize/seed/Lloyd/assign/score algebra)."""
    from fairy_spark.operators.similarity import (
        ivf_mips_append,
        ivf_mips_persist_append,
    )

    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    q = emb.filter(F.col("vec_id") <= 5)
    got = sorted(
        map(
            tuple,
            ivf_mips_persist_append(
                base, delta, q, str(tmp_path / "idx"), k=5, n_clusters=8, n_probe=2
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, ivf_mips_append(base, delta, q, k=5, n_clusters=8, n_probe=2).collect())
    )
    assert got == want and got
    # delta members are retrievable from the stored index
    assert any(r[1] % 5 == 4 for r in got)
