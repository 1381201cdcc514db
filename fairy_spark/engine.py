"""Engine façade — the public entry surface of fairy_spark.

The reference's entry points are an HTTP/2 put/get service
(common/src/h2/h2_service.rs:74-123) and a FUSE namespace
(fuse/src/uring_fuse/uring_fs/mod.rs). Ours are Python methods over a
SparkSession: ``sql`` for declarative queries, ``table`` for scans,
``kv`` for the blob store, ``catalog`` for namespace ops — the RPC /
process-boundary part of the reference is delegated to Spark's own
driver↔executor architecture (SURVEY.md §3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fairy_spark.catalog import Catalog
from fairy_spark.config import EngineConfig
from fairy_spark.kv import KVStore
from fairy_spark.session import get_spark
from fairy_spark.sources import register_views


class Engine:
    def __init__(self, spark: SparkSession | None = None, cfg: EngineConfig | None = None):
        self.cfg = cfg or EngineConfig.from_env()
        self.spark = spark or get_spark(self.cfg)
        self.catalog = Catalog(self.spark)
        self._kv: dict[str, KVStore] = {}
        # make module-referenced UDFs importable on executor workers
        # regardless of the driver process's cwd (shipping.py)
        from fairy_spark.shipping import ensure_package_shipped

        ensure_package_shipped(self.spark)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def attach_testdata(self, sf_dir: str) -> dict[str, DataFrame]:
        return register_views(self.spark, sf_dir)

    def kv(self, name: str = "kv_default") -> KVStore:
        """Named KV store (reference: one LocalFileKVStore per worker,
        worker/src/main.rs; ours: one bucketed table per store name)."""
        if name not in self._kv:
            self._kv[name] = KVStore(self.spark, name, num_buckets=self.cfg.kv_num_buckets)
        return self._kv[name]

    # -- LLM-data-pipeline surface (operators/*) ------------------------------

    def dedup_exact(self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
        """One surviving row id per distinct text (lowest id wins)."""
        from fairy_spark.operators.dedup import exact_dedup

        return exact_dedup(docs, text_col, id_col)

    def dedup_near(
        self,
        docs: DataFrame,
        threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 8,
        band_rows: int = 1,
    ) -> DataFrame:
        """MinHash-LSH near-duplicate pairs with exact-Jaccard scores
        >= threshold. Defaults to the original (8,1) HIGH-RECALL
        geometry (~99.6% candidate recall at J=0.5; registered +
        hash-checked as `dedup_minhash_lsh`) so existing API callers
        keep their output set — ADVICE r8 reverted the r8 default flip
        to (16,2), which silently shrank results. Pass (16,2) for the
        measured PRODUCTION scale geometry (SCALE.md; registered as
        `dedup_minhash_scale`) whose candidate volume stays
        sub-quadratic at large corpus sizes — registered queries pass
        their geometry explicitly either way."""
        from pyspark.sql import functions as F

        from fairy_spark.operators.dedup import minhash_lsh_candidates

        cands = minhash_lsh_candidates(
            docs, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, band_rows=band_rows,
        )
        return cands.filter(F.col("jaccard") >= threshold)

    def dedup_simhash(
        self,
        docs: DataFrame,
        max_hamming: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """64-bit SimHash near-dup pairs (Manku et al.'s deployed
        crawl geometry; operators/dedup.py simhash64_pairs — the plan
        the registered `dedup_simhash_scale64` pins against its
        oracle). Complements dedup_near: simhash catches short-edit
        near-dups by fingerprint distance where minhash measures set
        overlap; at 100 TB the 64-bit width is what keeps band buckets
        collision-sparse (SCALE.md r9: 45.6×→670× pair suppression vs
        32-bit as the corpus grows 5k→50k docs). ``max_hamming`` must
        be <= 7 — the 8-band geometry's pigeonhole recall bound
        (simhash64_pairs raises past it)."""
        from fairy_spark.operators.dedup import simhash64_pairs

        return simhash64_pairs(
            docs, id_col=id_col, text_col=text_col, max_hamming=max_hamming
        )

    def dedup_cdc(self, docs: DataFrame, mod: int = 8, text_col: str = "text") -> DataFrame:
        """Content-defined chunks per document (LBFS-style boundary
        rule — re-syncs after edits where fixed blocks shift;
        operators/text.py::cdc_chunks, the plan `dedup_cdc_chunks`
        pins). Returns (id columns…, chunk) exploded rows ready for a
        digest-keyed corpus dedup agg."""
        from pyspark.sql import functions as F

        from fairy_spark.operators.text import cdc_chunks, tokenize

        return docs.withColumn(
            "chunk", F.explode(cdc_chunks(tokenize(F.col(text_col)), mod=mod))
        ).drop(text_col)

    def dedup_lines(
        self,
        docs: DataFrame,
        delta_docs: DataFrame | None = None,
        min_line_chars: int = 1,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Corpus-wide exact duplicate-LINE removal (RefinedWeb's
        boilerplate stage; operators/dedup.py dedup_lines — the plan
        `dedup_lines_exact` pins): first corpus-wide occurrence of
        each line survives, empty/short lines are exempt, per-doc
        (n_lines, n_kept, kept_text) comes back. Run it BEFORE
        doc-level exact/near dedup — shared boilerplate makes
        unrelated docs minhash-similar. Pass ``delta_docs`` to clean
        an incremental batch against ``docs`` as the already-ingested
        base instead (dedup_lines_append / `dedup_lines_incremental`;
        ingest contract: delta ids sort after base ids)."""
        from fairy_spark.operators.dedup import dedup_lines, dedup_lines_append

        if delta_docs is not None:
            return dedup_lines_append(
                docs, delta_docs, id_col=id_col, text_col=text_col,
                min_line_chars=min_line_chars,
            )
        return dedup_lines(
            docs, id_col=id_col, text_col=text_col, min_line_chars=min_line_chars
        )

    def dedup_media(
        self,
        media: DataFrame,
        kind: str = "image",
        max_hamming: int = 3,
    ) -> DataFrame:
        """Perceptual near-dup pairs over a media frame (media_id,
        payload) — the multimodal leg of the dedup stack: kind='image'
        fingerprints with the 40-bit dHash (multimodal.image_dhash,
        the `dedup_image_dhash` plan), kind='audio' with the
        Haitsma–Kalker energy-difference bits
        (multimodal.audio_fingerprint, the `dedup_audio_fingerprint`
        plan); both feed the same banded hamming equi-join
        (dedup.hamming_pairs, 4×10-bit bands — pair cost
        Σ|bucket|², never corpus²). Returns (id_a, id_b, hamming)."""
        from fairy_spark.operators.dedup import hamming_pairs
        from fairy_spark.operators.multimodal import audio_fingerprint, image_dhash

        if kind == "image":
            sig, col = image_dhash(media), "dhash"
        elif kind == "audio":
            sig, col = audio_fingerprint(media), "fingerprint"
        else:
            raise ValueError(f"kind must be image|audio, got {kind!r}")
        return hamming_pairs(
            sig, bits=40, n_bands=4, max_hamming=max_hamming,
            id_col="media_id", hash_col=col,
        )

    def fingerprints(self, docs: DataFrame, k: int = 4, w: int = 4, text_col: str = "text") -> DataFrame:
        """Winnowing local fingerprints per document (Schleimer et al.
        2003; operators/text.py::winnow_fingerprints — the plan
        `text_winnow_fingerprint` pins): any two docs sharing a
        >= k+w-1-token run share a fingerprint. Returns the input
        plus a `fingerprints` array<bigint> column."""
        from pyspark.sql import functions as F

        from fairy_spark.operators.text import tokenize, winnow_fingerprints

        return docs.withColumn(
            "fingerprints", winnow_fingerprints(tokenize(F.col(text_col)), k=k, w=w)
        )

    def source_report(self, docs: DataFrame, source_col: str = "source") -> DataFrame:
        """Per-source curation report card (the registered
        `pipeline_source_report` over an arbitrary documents frame):
        n_docs, Gopher keep ppm, exact-dup ppm, token volume/mean."""
        from fairy_spark.operators.pipeline import source_report

        return source_report(docs, source_col=source_col)

    def pretrain_corpus(
        self,
        docs: DataFrame,
        probe_docs: DataFrame | None = None,
        bin_tokens: int = 512,
        id_col: str = "doc_id",
        text_col: str = "text",
        length_col: str = "n_chars",
        shingle_n: int = 3,
        num_hashes: int = 8,
        band_rows: int = 1,
    ) -> DataFrame:
        """The end-to-end pretraining-corpus pipeline on the caller's
        own documents (operators/pipeline.py; the composition is
        oracle-proven by the registered `pipeline_pretrain_corpus` and,
        at the (16,2) production geometry, by
        `pipeline_pretrain_corpus_staged_scale`): Gopher quality rules
        -> exact dedup -> minhash near-dup survivor selection -> 8-gram
        decontamination vs probe_docs (skipped when None) -> token
        packing -> deterministic hash split. Returns (id, n_tokens,
        bin_id, bucket, split). The stage-3 output is cut with an eager
        ``localCheckpoint``; nothing is written to disk.

        (shingle_n, num_hashes, band_rows) is the near-dup LSH
        geometry — pass (3, 16, 2) at scale. The probe-gram join
        broadcasts or shuffles by probe size (operators/pipeline.py
        decontaminate)."""
        from fairy_spark.operators.pipeline import pretrain_corpus

        return pretrain_corpus(
            docs,
            probe_docs=probe_docs,
            id_col=id_col,
            text_col=text_col,
            length_col=length_col,
            bin_tokens=bin_tokens,
            shingle_n=shingle_n,
            num_hashes=num_hashes,
            band_rows=band_rows,
        )

    def triangles(self, pairs: DataFrame, mode: str = "auto") -> DataFrame:
        """Triangle count over an arbitrary undirected (u, v) pair
        frame (operators/wedges.py; the registered `graph_triangles*`
        rows pin the plans against their oracles). mode='auto'
        (default) measures the exact plain-join wedge row count and
        runs the hub-capped split only past the measured ~1e8
        crossover (SCALE.md r10); 'plain'/'capped' force a form."""
        from fairy_spark.operators.wedges import (
            triangle_summary,
            triangle_summary_auto,
            triangle_summary_capped,
        )

        if mode == "auto":
            return triangle_summary_auto(pairs)
        if mode == "plain":
            return triangle_summary(pairs)
        if mode == "capped":
            return triangle_summary_capped(pairs)
        raise ValueError(f"mode must be auto|plain|capped, got {mode!r}")

    def similar_topk(
        self, corpus: DataFrame, queries: DataFrame, k: int = 5, method: str = "brute",
        id_col: str = "vec_id", vec_col: str = "embedding",
    ) -> DataFrame:
        """Cosine top-k neighbors: method in {brute, lsh, ivf}."""
        from fairy_spark.operators import similarity as S

        fn = {"brute": S.brute_force_topk, "lsh": S.lsh_topk, "ivf": S.ivf_topk}[method]
        return fn(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)

    def text_profile(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """Per-doc quality stats: chars, tokens, mean token length,
        stopword ratio, rolling fingerprint."""
        from pyspark.sql import functions as F

        from fairy_spark.operators.text import (
            mean_token_len,
            rolling_fingerprint,
            stopword_ratio,
            tokenize,
        )

        toks = tokenize(F.col(text_col))
        return docs.withColumns(
            {
                "n_chars_computed": F.length(text_col).cast("bigint"),
                "n_tokens": F.size(toks),
                "mean_token_len": mean_token_len(toks),
                "stopword_ratio": stopword_ratio(toks),
                "fingerprint": rolling_fingerprint(toks),
            }
        )

    def langid(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """Stopword-profile language prediction per row (the registered
        `text_langid_profile` algebra over an arbitrary frame):
        appends per-language stopword hit counts (de/en/es/fr), the
        argmax `pred_lang` ('unk' on zero hits, alphabetical
        tie-break) and `conf_ppm` — winning hits per million tokens.
        Pure per-row HOFs, zero shuffle."""
        from pyspark.sql import functions as F

        from fairy_spark.operators.text import LANG_STOPWORDS, tokenize

        toks = tokenize(F.col(text_col))
        out = docs.withColumn("_n_toks", F.size(toks).cast("bigint"))

        # single-parameter lambda per profile: a defaulted second param
        # would make PySpark bind the array INDEX to it
        def hit_filter(ws: tuple[str, ...]):
            return lambda x: x.isin(*ws)

        for lang, ws in sorted(LANG_STOPWORDS.items()):
            out = out.withColumn(
                f"hits_{lang}",
                F.size(F.filter(toks, hit_filter(ws))).cast("bigint"),
            )
        mx = F.greatest(*[f"hits_{lang}" for lang in sorted(LANG_STOPWORDS)])
        out = out.withColumn("_mx", mx)
        pred = F.when(F.col("_mx") == 0, "unk")
        for lang in sorted(LANG_STOPWORDS):
            pred = pred.when(F.col(f"hits_{lang}") == F.col("_mx"), lang)
        return (
            out.withColumn("pred_lang", pred)
            .withColumn(
                "conf_ppm",
                F.when(
                    F.col("_n_toks") > 0, F.expr("_mx * 1000000L DIV _n_toks")
                ).otherwise(F.lit(0).cast("bigint")),
            )
            .drop("_mx", "_n_toks")
        )

    def profile(self, df: DataFrame, columns: list[str] | None = None) -> DataFrame:
        """One-pass per-column stats (operators/profiling.py)."""
        from fairy_spark.operators.profiling import profile_table

        return profile_table(df, columns)

    def stream_events(self, replay_dir: str) -> DataFrame:
        """File-replayed event stream (streaming/pipeline.py)."""
        from fairy_spark.streaming.pipeline import read_event_stream

        return read_event_stream(self.spark, replay_dir)

    def stop(self) -> None:
        self.spark.stop()
