"""Query registry — THE CONTRACT surface (SURVEY.md §2.B).

Every implemented operator is declared here as a named query:
  * a Spark callable ``(spark, sf_dir) -> DataFrame``
  * an equivalent ANSI-SQL string for the DuckDB oracle (or None for
    genuinely non-SQL-expressible ops → rows-only check).

``__spark_entry__.py`` re-exports this registry to the driver; the
pytest suite runs the same comparison locally at sf0.01.

Discipline (FIXTURES.md oracle conventions): every computed column is
aliased identically on both sides; doubles are rounded in-query on
both sides so value hashes align; collect_list is always sort_array-
wrapped; no query depends on partition-order nondeterminism.

Registry-growth policy (adopted r6, per the r5 verdict): the external
driver verifies only ~50 queries per round, so the number of
never-driver-checked queries must never exceed one driver window.
Before registering NEW queries in a round, count the queries with no
CORRECTNESS_r*.json row yet ("debt"); additions that round are capped
at max(0, 50 - debt). Round 5 added 97 queries against a 50-slot
window and created 56 rows of verification debt — round 6 therefore
adds zero and lets the tier rotation below surface the debt first.
Round 7: debt entering the round was 7, the cap 43 — but the round
ultimately registered 67 new queries (the r7 verdict flags the breach:
queries kept landing after the end-of-round snapshot), so the debt
ENTERING ROUND 8 is 41 never-driver-checked rows (the full list =
registry minus CORRECTNESS_r01–r07 keys; includes the stats_* tail,
the r7 ts_*/ml_*/events_* additions, text_bpe_train/apply, and
graph_hits/kcore). Round 8 is therefore verification-first: the r7
pin set is pruned (all 16 came back green in CORRECTNESS_r07), NOTHING
is pinned, and the 50-slot window holds flagship + all 41 debt rows +
the r8 additions. The r8 cap is max(0, 50 - 41) = 9 new queries
(8 after reserving the flagship slot); additions beyond the budget
wait for r9. Round 8 registered exactly 7: dedup_minhash_scale and
dedup_simhash_scale (the measured scale geometries promoted to
registered defaults, VERDICT r7 #3), graph_triangles_capped and
graph_clustering_capped (the two hub-residual wedge variants, #4),
stream_exec_minhash_append (#8a), dedup_semantic_semdedup (#8b),
sink_zorder_skip_stats (#8c) — window occupancy 1 + 41 + 7 = 49 of
50. Every new query is green against the local sf0.01 oracle gate
and the sf0.1 audit before registration.

Round 10 entered with ZERO debt (r9 went fully green; cap ~49) and
registered 20: the five VERDICT-r9 ordered items
(pipeline_pretrain_corpus_scale, pipeline_pretrain_corpus_staged,
graph_triangles_auto, kv_multi_get, sink_compaction_exec), the
Gopher repetition pack (text_gopher_repetition), then the breadth
block: text_winnow_fingerprint, dedup_cdc_chunks,
ml_random_projection, kv_rebucket, mm_image_downsample,
stats_spearman, pipeline_source_report, dedup_winnow_pairs,
stream_exec_cdc_counts, scan_file_metadata, fn_bitwise_agg,
events_window_funnel, stats_anova_oneway, sink_parquet_zstd.
Window occupancy: 1 flagship + 20 new + 2 pins = 23 of 50 — the rest of the window rotates the
least-verified tier. Every r10 row is oracle-green at sf0.01, sf0.1
AND the sf1 replica before registration (AUDIT_r10_* appendices).

Round 11 entered with zero debt (r10 fully green; cap ~49) and
registered 4: pipeline_pretrain_corpus_staged_scale (the production
default — staged boundary at the (16,2) geometry, VERDICT r10 #2),
then the breadth block text_langid_profile (stopword-profile LID,
#6a), events_window_funnel_strict (ClickHouse strict_order mode,
#6b), kv_range_delete (prefix/range tombstones, #6c). r11 also
CONVERTED ml_ann_ivf_topk from the registry's last rows-only entry to
a full oracle (integer Lloyd update — VERDICT r10 #4), closing the
ANN ledger at rows-only = 0. Every r11 row is oracle-green at sf0.01,
sf0.1 AND the (stopword-stratum-rebuilt) sf1 replica before
registration.

Round 12 entered with zero debt (r11 fully green; cap ~49) and
registers the three VERDICT-r11 breadth candidates plus one symmetry
row: ml_ann_ivf_append (incremental IVF ingest — quantizer from base
only, delta assigned to existing centroids, #4), dedup_image_dhash
(perceptual difference-hash near-dup over the multimodal byte
stand-in + banded hamming join, #5), dedup_lines_exact
(RefinedWeb-style corpus-wide duplicate-line removal, #6), and
dedup_lines_incremental (the minhash_lsh_append symmetry at the line
level — delta cleaned against the base digest index, oracle = full
algebra restricted to delta), dedup_audio_fingerprint (the audio
leg joined to the dedup stack: Haitsma–Kalker energy-sign bits +
the shared hamming_pairs band join), and stream_exec_dhash_append
(LIVE-engine image-ingest dedup: per-batch fingerprint + banded
probe of the durable index, oracle = the full dedup_image_dhash
join). Every r12 row is oracle-green at
sf0.01, sf0.1 AND the sf1 replica before registration (per-row
appendices in AUDIT_r12_sf*.txt; the r12 FULL sf1 + sf0.1 audits
cover the pre-existing 362).

Round 13 enters with zero debt (r12 fully green; cap ~49) and
registers the VERDICT-r12 ordered breadth: ml_ann_ivf_delete +
ml_ann_ivf_compact (#2 — the LSM delete/compact leg of the IVF
ledger with the staleness-triggered retrain decision materialized in
the output and BRANCHED inside the SQL oracle; one row per branch so
both the stale-quantizer mask and the live-set retrain are
hash-checked), dedup_lines_near (#3 — fuzzy paragraph-level dedup
riding hamming_pairs), stream_exec_dhash_bucketed (#5 — pre-banded
durable fingerprint index with partition-pruned probes), and
text_containment_slice (#6 — bounded sf1-runnable containment
oracle), plus two symmetry rows completing the line-dedup grid
(exact/near × batch/incremental/streaming):
dedup_lines_near_incremental (the fuzzy append≡full leg — greedy
survivorship is prefix-stable, which is WHY the fuzzy rule is
greedy) and stream_exec_lines_append (LIVE-engine line dedup
against the durable 16-byte digest index via the new
base_digs parameter — base text never re-read; oracle =
dedup_lines_exact's full output verbatim), and ml_ann_ivf_persisted
(the durable cluster-partitioned ANN index — persist → reload →
partition-pruned search, oracle = ml_ann_ivf_topk's, closing the IVF
ledger at build/append/delete/compact/persist), and
stream_exec_lines_near_append (LIVE-engine fuzzy line dedup against
the durable line_near_index signature table — the last cell of the
line-dedup grid; oracle = dedup_lines_near's full algebra), and
geo_radius_join (DWithin-style spatial radius join on the
density-adaptive cell ladder — completeness R ≤ cell_side +
output-bounded density-scaled R), and ml_ann_ivf_persisted_append
(the ingest+serve loop on the durable index: build+persist from
base, append the delta into the cluster partitions, search the
updated store; oracle = ml_ann_ivf_append's). 11 rows, inside the
cap.
r13 also pruned the two long-green r10 pins and pinned
ml_ann_ivf_topk (stale r7 driver record, VERDICT r12 #1) plus the
four ADVICE-touched rows into the window head. Every r13 row is
oracle-green at sf0.01, sf0.1 AND the sf1 replica before
registration.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
FAMILY: dict[str, str] = {}  # query name -> registering module (family)


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        assert name not in QUERIES, f"duplicate query name {name}"
        FAMILY[name] = fn.__module__.rsplit(".", 1)[-1]

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Ship the package to Python workers first: UDF-bearing
            # queries crash with ModuleNotFoundError on any driver
            # whose cwd isn't the repo root otherwise (shipping.py).
            from fairy_spark.shipping import ensure_package_shipped

            ensure_package_shipped(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from fairy_spark.queries import (  # noqa: F401
        relational,
        joins,
        aggregates,
        windows,
        setops,
        functions_sql,
        subqueries,
        sources_io,
        sampling_misc,
        tpch_like,
        llm,
        streaming_batch,
        udfs_mm,
        graph,
        analytics,
        stats,
        geo,
    )
    # streaming_exec reuses streaming_batch's oracle strings, so it
    # must import after streaming_batch has registered them.
    from fairy_spark.queries import streaming_exec  # noqa: F401


def _driver_verified_counts() -> dict[str, int]:
    """How many past driver rounds PASSED each query, read from the
    repo-root ``CORRECTNESS_r*.json`` files the external gate leaves
    behind. Failed/errored entries count 0 so they get re-checked
    first. Missing/unreadable files degrade to {} (pure interleave)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    counts: dict[str, int] = {}

    def round_no(path: str) -> int:
        # "Latest result wins" below requires true round order, not
        # lexicographic path order — an unpadded r5 or a 3-digit r100
        # would misorder under a plain sort and resurrect stale states.
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        return int(m.group(1)) if m else -1

    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")), key=round_no):
        try:
            with open(path) as f:
                results = json.load(f)
        except (OSError, ValueError):
            continue
        for name, res in results.items():
            if not isinstance(res, dict):
                continue
            passed = (
                res.get("err") is None
                and res.get("rows_match") is True
                and res.get("schema_match") is not False
                and res.get("hash_match") is not False
            ) or (
                # Rows-only-by-design checks (declared no-oracle ANN
                # queries): the driver records err="no_oracle" with a
                # row count. That IS the designed verification — without
                # this clause they read as failures and permanently camp
                # in the re-check tier, taxing the 50-slot window every
                # round (observed in r2/r3 ordering).
                res.get("err") == "no_oracle"
                and isinstance(res.get("spark_rows"), int)
            )
            if passed:
                # A pass CLEARS any earlier-round failure penalty: the
                # files iterate in round order, so the latest result
                # wins. Without this, a query that failed once and has
                # since been fixed + driver-reverified (r1's
                # agg_profile_table) stays pinned at the front forever.
                counts[name] = max(counts.get(name, 0), 0) + 1
            else:
                counts[name] = -1000  # latest result is a failure: re-check first
    return counts


# Rows pinned to the FRONT of the checked window regardless of past
# driver passes: queries whose implementation changed since their last
# driver pass. Curate per round: prune entries once the next
# CORRECTNESS file shows them green, or they permanently tax the
# 50-slot window. (r3's five pins all came back green in
# CORRECTNESS_r03 — pruned. r4's pins — merge_upsert,
# dedup_ngram_jaccard — both came back green in CORRECTNESS_r04 —
# pruned. r5's eight pins (as-of rework, merge fallback, minhash Arrow
# engine) ALL came back green in CORRECTNESS_r05 — pruned at the start
# of r6 so the full 50-slot window goes to the never-checked tier.
# r6's NULL-semantics fix to the quantized mean touched
# stream_sliding_batch / ts_resample_ffill / ts_resample_interp /
# stream_exec_sliding symmetrically on engine AND oracle sides (both
# divide by COUNT(value) now) and is covered by the local oracle suite
# + test_quantized_mean_ignores_null_values; pinning them this round
# would displace 4 of the 56 never-checked rows the r5 verdict ordered
# cleared first, so they are DEFERRED to r7's pin set. Likewise r6's
# minhash cold-path job fusion (fingerprint recorded from the cached
# sig frame instead of a second corpus agg — value-identical by row
# preservation, gated by the engine-equality + staleness tests):
# dedup_minhash_lsh/est/band2, dedup_ngram_jaccard, dedup_components,
# dedup_survivors join the r7 pin candidates — as do the four asof
# queries after the optional tie_break parameter landed (default path
# value-identical, oracle-green; pure API addition).)
#
# r7's 16 pins ALL came back green in CORRECTNESS_r07 — pruned. r8
# pinned NOTHING (per the r7 verdict); debt hit zero.
#
# r9 pins (VERDICT r8 items 1 + the deferred r8 low-ADVICE re-pins):
# - graph_hits / ts_rolling_median: the ONLY two r8 driver failures —
#   oracle-side HUGEINT->float64 dtype bugs, fixed with CAST(... AS
#   BIGINT) (judge-verified fix, re-proven locally at sf0.01); pinned
#   so CORRECTNESS_r09 carries the green rows.
# - mm_frame_extract / sketch_kmv_setops / kv_ttl_expire /
#   sample_poisson_bootstrap: r8's low-ADVICE touch-ups, value-identical
#   on all fixtures, re-pin deferred from r8 so they didn't displace
#   debt rows (precedent: r6's NULL-mean deferral).
_RECHECK_FIRST: set[str] = {
    # r13 (VERDICT r12 #1): ml_ann_ivf_topk's latest driver record is
    # still r7 `err: no_oracle`, pre-dating its r11 oracle conversion —
    # the only registered row whose latest driver sample isn't
    # hash-green. Builder-side it is green at sf0.01/sf0.1/sf1 (full
    # audits r12), but only a driver resample closes the loose end:
    # pin it to the window head. Prune once CORRECTNESS_r13 lands it.
    "ml_ann_ivf_topk",
    # r13: the media-dedup length gates moved from characters to BYTES
    # (ADVICE r12 — F.octet_length / strlen; value-identical on the
    # ASCII fixtures, re-prove under the driver anyway), and the
    # streaming append legs moved to batch_id-keyed idempotent writes.
    "dedup_image_dhash",
    "dedup_audio_fingerprint",
    "stream_exec_dhash_append",
    "stream_exec_minhash_append",
}


def _interleave_families() -> None:
    """Reorder the registry so any PREFIX covers every family AND
    rotates toward never-verified queries across rounds.

    The external correctness gate checks only the first ~50 registered
    queries. Round 1's fix spread each family evenly over the ordering
    (item j of an n-item family at fractional position (j+0.5)/n) so a
    truncated run covers every family — but the order was static, so
    round 3 would re-verify the same 50 rows. Primary sort key is now
    the number of past driver rounds that already passed the query
    (from CORRECTNESS_r*.json), so the checked window slides to the
    least-verified rows each round while staying family-interleaved
    within each verification tier. The flagship stays first: the
    driver's entry() smoke check uses it.
    """
    verified = _driver_verified_counts()

    def tier_of(name: str) -> int:
        return -1 if name in _RECHECK_FIRST else verified.get(name, 0)

    # Interleave WITHIN each (tier, family) group: fractions restart
    # per tier, so every family's least-verified members surface at the
    # head of their tier — otherwise a family whose early members were
    # verified in past rounds gets its remaining members pushed out of
    # the checked window entirely.
    keys_by_group: dict[tuple[int, str], list[str]] = {}
    for name in QUERIES:
        keys_by_group.setdefault((tier_of(name), FAMILY[name]), []).append(name)
    # ROUND-ROBIN within the tier (rank before fraction): every
    # family's FIRST member precedes any family's second, so the
    # 50-slot prefix covers all families with unverified rows even
    # when one tier holds 80+ queries — the fractional spread alone
    # put a 1-member family at tier-position ~n/2, off the end of the
    # window once big families (llm, analytics) stacked up in front
    # (caught by test_registry_order when the r5 additions landed).
    ranked: list[tuple[int, int, float, str]] = []
    for (tier, _fam), fam_keys in keys_by_group.items():
        n = len(fam_keys)
        for j, name in enumerate(fam_keys):
            ranked.append((tier, j, (j + 0.5) / n, name))
    ranked.sort(key=lambda t: (t[0], t[1], t[2]))
    order = ["q1_pricing_summary"] + [
        name for _, _, _, name in ranked if name != "q1_pricing_summary"
    ]
    for name in order:
        QUERIES[name] = QUERIES.pop(name)
        if name in ORACLE:
            ORACLE[name] = ORACLE.pop(name)


_load_all()
_interleave_families()
