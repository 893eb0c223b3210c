"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes fully via the noop sink (no driver-side collect,
mirroring a cluster write) on one shared session, local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dynamodb_zero_etl_s3tables_spark.session import get_spark, local_cpus
from dynamodb_zero_etl_s3tables_spark.operators import QUERY_REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: the heavy representatives of each operator family
HEADLINE = [
    "d02_json_scan",            # DynamoDB-export NDJSON ingest + decode
    "d04_partitioned_sink",     # hive-partitioned parquet write + agg
    "d21_star_join_flagship",   # 5-way star join + agg
    "d22_grouped_agg_q1",       # full-scan grouped aggregate
    "d59_tpch_q3_shipping_priority",  # filtered 3-way join + top-k
    "d60_tpch_q10_returned_items",    # quarter-filtered 4-way join + top-k
    "d57_funnel",               # stacked windows, one user_id shuffle
    "d19_range_join",           # interval join on equi-key
    "d20_asof_join",            # as-of join via window
    "d31_window_ranking",       # partitioned window functions
    "d35_topk_per_group",       # per-group top-k
    "b05_cdc_upsert_merge",     # CDC merge (anti-join + union + window)
    "c02_catalog_roundtrip",    # managed-table bootstrap + merge + read
    "h05_session_window",       # sessionization (gap islands)
    "e01_exact_dedup",          # content-hash dedup
    "e02b_minhash_lsh_pairs",   # MinHash LSH candidate pairs
    "e02f_minhash_estimate",    # candidate-pair similarity estimate
    "e03_cosine_topk",          # brute-force ANN top-k
    "e04_similarity_join",      # threshold cosine pair join
    "e05_tfidf",                # token pipeline + tf-idf
    # r3 additions (VERDICT r2 #4): heavy ops previously untracked.
    # Appended, not inserted — keeps the original 20 comparable r2->r3.
    "e02h_dedup_components",    # iterative connected components
    "e18_bm25_retrieval",       # BM25 scoring + top-k
    "e20_chunk_dedup",          # sub-document chunk dedup
    "e21_kmeans_refine",        # one distributed Lloyd iteration
    "e25_semdedup",             # cluster-bounded semantic dedup
    # r4 additions (VERDICT r3 #8): heavy r3/r4 ops, appended — the
    # original-20 and r3-25 prefixes stay comparable across rounds.
    "e36_common_span_probe",    # LSH pipeline + span-window hashing
    "e37_pq_adc_topk",          # PQ encode + ADC scoring
    "e38_training_export",      # dedup->quality->split->parquet write
    "e39_source_overlap_matrix",  # cross-source n-gram Jaccard
    "e40_ivf_pq_topk",          # IVF probe + trained-codebook ADC
    "e41_neardup_training_export",  # components->quality->export
    # r5 additions, appended under the same superset discipline — the
    # original-20, r3-25, and r4-31 prefixes stay comparable. A
    # subtotal_r4_31_sec is emitted for the r4 window.
    "e53_kneser_ney_score",     # KN-smoothed bigram model + per-doc CE
    "e57_winnowing_fingerprints",  # k-gram hash + window-min selection
    "e56_split_leakage_audit",  # LSH pairs x split classification
    "c13_replication_audit",    # bootstrap + merge + XOR-bucket compare
    # r5 late additions (same superset discipline; subtotal_r5_35_sec
    # closes the window above so these five stay separable in r6+)
    "e61_matryoshka_recall",    # per-dim prefix scoring + 2-stage top-k
    "e64_knn_pagerank",         # LSH kNN graph + 3 fixed-point iterations
    "e67_bpe_training",         # 8 BPE merge rounds over capped vocab
    "e66_stratified_split",     # apportionment + per-stratum hash ranks
    "e68_sliding_chunks",       # overlap chunker, slice+hash per row
    # r5 session-2 additions (subtotal_r5_40_sec closes the window
    # above so these stay separable in r6+)
    "d96_tpch_q2_min_cost_supplier",  # derived partsupp + decorrelated MIN
    "d97_tpch_q11_important_stock",   # partsupp value agg vs scalar total
    "e75_cross_corpus_dedup",   # e02b pairs x corpus-membership filter
    "e76_bbit_minhash",         # 1-bit signature estimator vs full
    # r6 additions (subtotal_r5_44_sec closes the window above so
    # these stay separable in r7+; never remove a query from a frozen
    # subtotal)
    "c23_sql_dml_journey",      # SQL-routed DELETE/UPDATE/MERGE lifecycle
    "h21_schema_evolving_stream",  # mid-stream additive schema evolution
    "e06b_media_featurize",     # binary header parse via mapInPandas
    "e80_substring_dedup",      # corpus-wide exact-substring rewrite
    # r7 additions (subtotal_r6_48_sec closes the window above so
    # these stay separable in r8+)
    "d90b_merge_evolving",      # MERGE with automatic schema evolution
    "h24_streaming_index_maintenance",  # changelog-driven IVF-PQ upkeep
    # r8 additions (subtotal_r7_50_sec closes the window above so
    # these stay separable in r9+)
    "h26_cow_changelog_stream",  # CoW snapshot-diff changelog drain
    "c29_sql_nmbs_time_travel_journey",  # 3-clause MERGE + travel join
    # r9 additions (subtotal_r8_52_sec closes the window above so
    # these stay separable in r10+)
    "h27_out_of_order_cdc",      # version-state drain, reversed arrival
    "e83_batched_ann_topk",      # 64-query IVF serving batch
    # r10 additions (subtotal_r9_54_sec closes the window above so
    # these stay separable in r11+)
    "c30_dml_subquery_journey",  # subquery DML: 3 keyed rewrites
    "d90c_sql_merge_schema_evolution",  # SQL evolving merge
    "h28_nested_changelog_stream",  # nested-shim changelog drain
    # r10 session-2 additions (subtotal_r10_57_sec closes the window
    # above so these stay separable in r11+)
    "e84_simhash_hamming_join",  # Manku block-index Hamming pairs
    "c31_metadata_only_agg_journey",  # manifest-stats COUNT/MIN/MAX
    "e85_moore_lewis_selection",  # two-LM cross-entropy difference
    "e86_logreg_quality_training",  # 3-round full-batch GD
    "e87_semantic_split_decontamination",  # cross-split cosine leaks
    # r11 addition (subtotal_r11_62_sec closes the window above so it
    # stays separable in r12+; VERDICT r10 #2): a deliberately
    # CPU-SCALABLE probe so the driver's 8-core axis measures real
    # parallel scaling instead of the machinery floor every other
    # sf0.1 query is bound by.
    "d48c_cpu_scaling_probe",
]

#: prefix lengths whose subtotals stay comparable across rounds
N_ORIGINAL = 20
N_R3 = 25
N_R4 = 31
N_R5 = 35
N_R5B = 40
N_R5C = 44
N_R6 = 48
N_R7 = 50
N_R8 = 52
N_R9 = 54
N_R10 = 57
N_R11 = 62

#: recorded quiet-host calibration probe (SCALE.md "Cross-host
#: normalization"): 0.924s on the r4 build host at rest, 1.028s on the
#: r4 driver host. A probe >25% above the quiet bound means the run
#: overlapped residual system load (SCALE.md documents a same-code
#: 1.5x swing from exactly that) OR a materially slower host — either
#: way the wall-times are not comparable unadjusted, so the JSON is
#: stamped load_contaminated for machine detection.
CALIBRATION_QUIET_SEC = 0.92
CALIBRATION_LOAD_FACTOR = 1.25

#: mid-run probe cadence (VERDICT r9 #2): one min-of-3 probe every
#: SEGMENT_LEN headline queries closes the blind spot where load that
#: arrives after the start probe and leaves before the end probe is
#: invisible (BENCH_r09 was exactly that: probes quiet, mid-run
#: queries 3-5x inflated, gate stamped valid).
SEGMENT_LEN = 10


def segment_bounds(n_queries: int, seg_len: int = SEGMENT_LEN) -> list[tuple[int, int]]:
    """[start, end) query-index ranges; one probe runs at every boundary.

    Pure function (no Spark) so the segmentation math is unit-testable.
    """
    if n_queries <= 0:
        return []
    return [
        (lo, min(lo + seg_len, n_queries)) for lo in range(0, n_queries, seg_len)
    ]


def analyze_probes(
    probes: list[float],
    quiet: float = CALIBRATION_QUIET_SEC,
    load_factor: float = CALIBRATION_LOAD_FACTOR,
) -> dict:
    """Per-segment host factors + contamination verdict from the probe
    sequence ``[start, mid_1, ..., mid_{k-1}, end]`` (``k`` segments →
    ``k+1`` probes).

    Pure function (no Spark) — unit-tested with synthetic load shapes.

    Segment ``i`` is bounded by ``probes[i]`` (before) and
    ``probes[i+1]`` (after); its host factor is the mean of the two
    bounds over the quiet reference, floored at 1.0 (a faster-than-
    reference host never inflates normalized numbers — same convention
    as the r4-r9 global factor). The START probe can read high purely
    from C2-JIT warmup (measured r5: 1.2x with nothing running), so for
    segment 0 a start probe slower than the first warmed probe is
    replaced by that warmed probe.

    Verdict fields:
      ``contaminated`` — any WARMED probe (index >= 1) exceeds the load
        bound ``quiet * load_factor``.
      ``stable`` — all warmed probes agree within 15% (max <= min*1.15):
        a uniformly slower host, not transient load.
      ``valid`` — not contaminated, or contaminated-but-stable. Load
        that arrives mid-run makes some warmed probe hot while others
        stay quiet → unstable → valid=False, which is the flag BENCH_r09
        could not raise.
    """
    if len(probes) < 2:
        raise ValueError("need at least a start and an end probe")
    warmed = probes[1:]
    bound = quiet * load_factor
    contaminated = any(p > bound for p in warmed)
    stable = max(warmed) <= min(warmed) * 1.15
    factors = []
    for i in range(len(probes) - 1):
        before = probes[i]
        after = probes[i + 1]
        if i == 0 and before > after:
            before = after  # C2-JIT warmup, not load
        factors.append(max(round(((before + after) / 2) / quiet, 3), 1.0))
    return {
        "segment_factors": factors,
        "contaminated": contaminated,
        "stable": stable,
        "valid": (not contaminated) or stable,
        "hot_probes": [i for i, p in enumerate(probes) if i >= 1 and p > bound],
    }


def _calibration(spark, n_runs: int = 3) -> float:
    """Fixed-size host-speed probe (VERDICT r3 #4): a hash-heavy
    sort+agg over 4M GENERATED rows — independent of SF_DIR and of
    any operator code, so the ratio of calibration_sec between two
    BENCH files mechanically normalizes host-speed differences
    (SCALE.md "Cross-host normalization"). ``n_runs=1`` is the cheap
    mid-run form (the JVM is fully warmed by then; ~1s each)."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        (
            spark.range(0, 4_000_000, 1, 32)
            .select(
                ((F.col("id") * 2654435761) % 1000003).alias("k"),
                F.md5(F.col("id").cast("string")).alias("h"),
            )
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.max("h").alias("m"))
            .orderBy("k")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        runs.append(time.perf_counter() - t0)
    return round(min(runs), 3)


def main() -> None:
    cpus = local_cpus()
    spark = get_spark(app_name="bench")
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    # warm the JVM + file listing once (excluded from timings)
    QUERY_REGISTRY["d01_parquet_scan"].build(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    # host-speed probe BEFORE the queries (paired with one after, so
    # load arriving mid-run is also caught)
    cal_start = _calibration(spark)
    # Each query runs 3x: run 1 pays one-time whole-stage-codegen
    # compilation (irrelevant to cluster throughput, where generated
    # classes are reused across tasks/batches); the headline number is
    # the steady-state min, cold time reported alongside. (r3: runs
    # went 2 -> 3 — the r3 host shows higher first-run variance, and
    # min-of-3 is a tighter steady-state estimate; `runs_per_query`
    # in the JSON records which regime a file was measured under.)
    n_runs = 3
    bounds = segment_bounds(len(HEADLINE))
    mid_probes: list[float] = []
    for seg_idx, (lo, hi) in enumerate(bounds):
        for name in HEADLINE[lo:hi]:
            runs = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                QUERY_REGISTRY[name].build(spark, SF_DIR).write.format(
                    "noop"
                ).mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            cold[name] = round(runs[0], 3)
            timings[name] = round(min(runs), 3)
        if seg_idx < len(bounds) - 1:
            # mid-run probe at every interior segment boundary
            # (VERDICT r9 #2). Min-of-3 like the start/end probes:
            # a single shot measures a DIFFERENT statistic — on a
            # measured quiet host single shots read 1.4-1.7s where
            # min-of-3 reads ~1.0s (GC/JIT noise right after heavy
            # query work) — and comparing it against the min-of-3
            # quiet bound would stamp every run contaminated. ~3s
            # per boundary on a quiet host, bounded and worth it.
            mid_probes.append(_calibration(spark))
    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    cal_end = _calibration(spark)
    # Probe sequence: [start(min-of-3), mid_1..mid_{k-1}(single-shot),
    # end(min-of-3)]. analyze_probes derives per-segment host factors
    # plus the contamination verdict — warmed probes now bracket every
    # ~10-query segment, so transient mid-run load is visible even when
    # both ends are quiet (the BENCH_r09 blind spot).
    probes = [cal_start, *mid_probes, cal_end]
    verdict = analyze_probes(probes)
    cal = min(cal_start, cal_end)
    contaminated = verdict["contaminated"]
    stable = verdict["stable"]
    speed_factor = round(cal / CALIBRATION_QUIET_SEC, 3)
    # per-query normalization factor = the factor of the segment the
    # query ran inside (mean of its two bounding probes over quiet,
    # floored at 1.0)
    qfactor: dict[str, float] = {}
    for seg_idx, (lo, hi) in enumerate(bounds):
        for name in HEADLINE[lo:hi]:
            qfactor[name] = verdict["segment_factors"][seg_idx]

    def norm_sum(names) -> float:
        return round(sum(timings[n] / qfactor[n] for n in names), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "cold_total_sec": round(sum(cold.values()), 3),
                "runs_per_query": n_runs,
                "subtotal_original20_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_ORIGINAL]), 3
                ),
                "subtotal_r3_25_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R3]), 3
                ),
                "subtotal_r4_31_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R4]), 3
                ),
                "subtotal_r5_35_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R5]), 3
                ),
                "subtotal_r5_40_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R5B]), 3
                ),
                "subtotal_r5_44_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R5C]), 3
                ),
                "subtotal_r6_48_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R6]), 3
                ),
                "subtotal_r7_50_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R7]), 3
                ),
                "subtotal_r8_52_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R8]), 3
                ),
                "subtotal_r9_54_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R9]), 3
                ),
                "subtotal_r10_57_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R10]), 3
                ),
                "subtotal_r11_62_sec": round(
                    sum(timings[n] for n in HEADLINE[:N_R11]), 3
                ),
                # CPU/scaling contract made self-describing (VERDICT
                # r10 #2): echo the core count and master this run
                # actually used, so the driver's low-core axis can
                # verify compliance instead of inferring it
                "cpus": int(cpus) if str(cpus).isdigit() else cpus,
                "master": spark.sparkContext.master,
                # calibration-normalized twins (VERDICT r7 #5, r9 #2):
                # wall times divided by the PER-SEGMENT host factor —
                # each query projected onto the quiet r4 reference host
                # using the probes that actually bracketed it, so
                # transient mid-run load normalizes the affected
                # segment only
                "normalized": {
                    n: round(t / qfactor[n], 3) for n, t in timings.items()
                },
                "normalized_total_sec": norm_sum(HEADLINE),
                "normalized_subtotal_original20_sec": norm_sum(
                    HEADLINE[:N_ORIGINAL]
                ),
                # per-segment calibration (VERDICT r9 #2): probe at
                # every ~10-query boundary; factor = mean of bounding
                # probes / quiet bound, floored at 1.0
                "segments": [
                    {
                        "queries": HEADLINE[lo:hi],
                        "probe_before_sec": round(probes[i], 3),
                        "probe_after_sec": round(probes[i + 1], 3),
                        "factor": verdict["segment_factors"][i],
                    }
                    for i, (lo, hi) in enumerate(bounds)
                ],
                "hot_probe_indices": verdict["hot_probes"],
                # mechanical grading gate (VERDICT r8 #5, r9 #2): one
                # field the grader can read without re-deriving the
                # normalization story. `use` names which twin of the
                # frozen original-20 subtotal to compare against
                # BASELINE/earlier rounds: raw on a quiet host;
                # normalized (per-segment factors, projected onto the
                # quiet r4 reference host) when any warmed probe is hot.
                # valid=false when load arrived MID-run (some warmed
                # probe hot while others quiet → unstable) — the
                # normalized twin is then the best available estimate
                # but the run should be repeated.
                "gate": {
                    "metric": "subtotal_original20_sec",
                    "raw": round(
                        sum(timings[n] for n in HEADLINE[:N_ORIGINAL]), 3
                    ),
                    "normalized": norm_sum(HEADLINE[:N_ORIGINAL]),
                    "use": "normalized" if contaminated else "raw",
                    "valid": verdict["valid"],
                },
                "calibration_sec": cal,
                "calibration_start_sec": cal_start,
                "calibration_end_sec": cal_end,
                "calibration_quiet_bound_sec": CALIBRATION_QUIET_SEC,
                "load_contaminated": contaminated,
                "calibration_stable": stable,
                "host_speed_factor": speed_factor,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
