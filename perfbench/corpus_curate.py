"""Workload ``corpus_curate``: the registered production curation pipeline
over a fresh synthetic shard per operation.

Shards are ``testing.synth.synth_documents`` corpora of SHARD_DOCS docs,
drawn from a fixed pool of POOL shard ids in a seeded order and written to
parquet as ``<shard dir>/documents.parquet``. One timed operation builds
the registered query over a shard and forces it with a ``noop`` write.
Each output is then collected, untimed, and its digest compared with the
DuckDB oracle's digest for that shard, cached in ``corpus_digests.json``
(``make_digests.py`` rebuilds the cache).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from pathlib import Path

from perfbench import loadgen
from perfbench.tracing import Spans, SparkWork

QUERY = "pipeline_pretrain_corpus_staged_scale"
SHARD_DOCS = 2000
POOL = 40
WARM_SHARD = "warm"
PREFETCH = 3  # shards written during set-up; later ones between operations
MIN_OPS = 3  # a run lasts --seconds and at least this many operations
DIGESTS = Path(__file__).resolve().parent / "corpus_digests.json"


def shard_id(shard) -> str:
    return f"perfbench-{shard}-n{SHARD_DOCS}"


def write_shard(spark, root: Path, shard) -> str:
    from fairy_spark.testing.synth import synth_documents

    d = str(root / shard_id(shard))
    synth_documents(spark, SHARD_DOCS, seed=shard_id(shard)).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


def digest(pdf) -> tuple[str, int]:
    """Order-insensitive digest of a result frame: columns by name, cells
    as plain ints/strings, rows sorted. Returns (sha256, rows)."""
    cols = sorted(pdf.columns)

    def cell(v):
        if v is None or isinstance(v, str):
            return v
        f = float(v)
        return int(f) if f.is_integer() else repr(round(f, 9))

    rows = sorted(json.dumps([cell(v) for v in r]) for r in pdf[cols].itertuples(index=False))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest(), len(rows)


def load_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)["digests"]


def run(engine, seed: int, seconds: float, trace: bool, window, shard_root: Path) -> dict:
    from fairy_spark.queries import QUERIES

    spark = engine.spark
    expected = load_digests()
    order = loadgen.shard_order(seed, POOL)
    work = SparkWork(spark.sparkContext) if trace else None
    spans = Spans() if trace else None
    out: dict = {"attempted": 0, "failed": 0}
    rows_out: list[int] = []

    t0 = time.perf_counter()
    dirs = {}
    gen = []
    for shard in [WARM_SHARD] + order[:PREFETCH]:
        g0 = time.perf_counter()
        dirs[shard] = write_shard(spark, shard_root, shard)
        gen.append(time.perf_counter() - g0)

    def curate(shard, tag: str | None) -> float:
        if work is not None and tag is not None:
            work.tag(tag)
        a = time.perf_counter()
        df = QUERIES[QUERY](spark, dirs[shard])
        df.write.format("noop").mode("overwrite").save()
        b = time.perf_counter()
        if work is not None:
            work.tag(f"check-{shard}")
        got = digest(df.toPandas())
        if spans is not None and tag is not None:
            spans.add("pipeline", a, b, span_id=tag, shard=shard_id(shard))
            spans.add("check", b, time.perf_counter(), parent=tag)
        rows_out.append(got[1])
        out["attempted"] += 1
        want = expected.get(shard_id(shard))
        if want is None or [want["digest"], want["rows"]] != list(got):
            out["failed"] += 1
        return b - a

    curate(WARM_SHARD, None)
    rows_out.clear()
    out["prep_s"] = time.perf_counter() - t0

    t_start = window.start()
    op_s: list[float] = []
    done: list = []
    for shard in order:
        if len(op_s) >= MIN_OPS and time.perf_counter() - t_start >= seconds:
            break
        if shard not in dirs:  # untimed: the op clock runs inside curate()
            dirs[shard] = write_shard(spark, shard_root, shard)
        op_s.append(curate(shard, f"op-{shard}"))
        done.append(shard)
    wall = window.stop() - t_start

    docs = SHARD_DOCS * len(op_s)
    out.update(
        wall_s=wall,
        ops_per_s=docs / sum(op_s),
        latency_p50_ms=loadgen.percentile([s * 1000 for s in op_s], 50),
    )
    if trace:
        out["layers"] = _layers(spark, work, dirs, done, op_s, rows_out, gen)
        out["spans"] = spans
    return out


def _layers(spark, work: SparkWork, dirs, done, op_s, rows_out, gen) -> dict:
    from pyspark.sql import functions as F

    from fairy_spark.operators.dedup import minhash_lsh_candidates

    totals = {"jobs": 0.0, "tasks": 0.0, "task_ms": 0.0, "input_records": 0.0,
              "shuffle_write_bytes": 0.0}
    for shard in done:
        w = work.collect(f"op-{shard}")
        for k in totals:
            totals[k] += w[k]
    cand = verified = 0
    for shard in done:
        docs = spark.read.parquet(os.path.join(dirs[shard], "documents.parquet"))
        pairs = minhash_lsh_candidates(docs, num_hashes=16, band_rows=2)
        r = pairs.agg(F.count("*").alias("n"),
                      F.sum((F.col("jaccard") >= 0.4).cast("long")).alias("v")).first()
        cand += r["n"]
        verified += r["v"] or 0
    n_docs = SHARD_DOCS * len(done)
    cores = spark.sparkContext.defaultParallelism
    return {
        "operators.pipeline.s_p50": loadgen.percentile(op_s, 50),
        "operators.pipeline.jobs_per_shard": totals["jobs"] / len(done),
        "operators.pipeline.task_ms_per_doc": totals["task_ms"] / n_docs,
        "operators.pipeline.shuffle_bytes_per_doc": totals["shuffle_write_bytes"] / n_docs,
        "sources.input_records_per_doc": totals["input_records"] / n_docs,
        "operators.pipeline.task_busy_share": totals["task_ms"] / (sum(op_s) * 1000 * cores),
        "operators.pipeline.survivor_ratio": sum(rows_out) / n_docs,
        "operators.dedup.candidate_pairs_per_doc": cand / n_docs,
        "operators.dedup.verify_yield": verified / cand if cand else 0.0,
        "corpus.gen_s": sum(gen) / len(gen),
    }
