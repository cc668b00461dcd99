"""Benchmark harness (driver contract).

Runs the headline queries from __spark_entry__.queries() at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints JSON:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
Two stdout lines, same schema: the full verbose record first (also
written to BENCH_FULL_LATEST.json), then a <2000-char compact line sized
to survive the driver's tail-capture window whole (see
build_compact_line: at the current battery size, bare-q-number keys with
1-decimal times in an adaptive band and whole seconds elsewhere).
Per-query figure = min of 2 timed passes.

Each query is timed as plan-build + full execution; we materialize with
a cheap count-style action (df.foreach is overkill; collect on small
results, count on large ones) so the measured time is the distributed
work, not driver-side row transfer of big results.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family (agg, join chain, star join,
# window, rollup, set-op, percentiles, sessionization, as-of, JSON,
# dedup exact + LSH, text stats, knn, pandas-UDF, medallion e2e).
HEADLINE = [
    "q01_pricing_summary",
    "q03_top_orders_by_revenue",
    "q04_regional_revenue",
    "q06_customer_order_stats",
    "q09_rollup_returnflag",
    "q12_user_event_gaps",
    "q13_running_customer_spend",
    "q18_value_percentiles",
    "q19_daily_event_kpis",
    "q21_sessionization",
    "q24_asof_purchase_click",
    "q23_json_props",
    "q28_exact_dedup_docs",
    "q29_text_stats",
    "q33_minhash_candidates",
    "q36_knn_vec0",
    "q37_lsh_knn_join",
    "q40_zscore_by_type",
    "q41_scalar_battery",
    "q43_cosine_pairs_exact",
    "q45_ivf_knn",
    "q46_order_lifecycle",
    "q47_sliding_windows",
    "q48_interval_join",
    "q49_sql_surface",
    "q50_knn_vectorized",
    "q51_corpus_curation",
    "q68_nation_trade_flow",
    "q73_large_volume_orders",
    "q75_tfidf_top_terms",
    "q78_embedding_quantization",
    "q80_benchmark_contamination",
    "q93_common_prefix_strip",
    "q95_sequence_packing",
    "q103_supplier_part_counts",
    "q105_gopher_quality",
    "q107_doc_chunks",
    "q108_monthly_order_spine",
    "q109_fuzzy_name_pairs",
    "q114_repeated_line_removal",
    "q119_classifier_filter",
    "q120_vocab_encode",
    "q126_pagerank_nations",
    "q128_cdc_apply",
    "q136_bigram_lm_score",
    "q137_bloom_prefilter_dedup",
    # round-4 rotation: families promoted to the driver snapshot
    "q110_variant_props",
    "q117_arrow_normalize",
    "q133_salted_join",
    "q146_bitmap_rollup_merge",
    "q149_contrastive_pairs",
    "q150_asof_tolerance",
    "q152_fuzzy_name_pairs_d2",
    "q153_ann_rerank",
    "q154_stratified_sample",
    "q155_gap_fill_interpolate",
    "q157_bmp_image_features",
    # q159 (exact-threshold jaccard join) excluded: at sf0.1 the corpus is
    # homogeneous enough that ~965k pairs clear the threshold — the output
    # materialization (~18s even with the PPJoin length filter) would
    # swamp the headline signal. It stays in the oracle gate for
    # correctness, and its scale ratio is timed directly in the
    # scale-linearity section below.
    "q160_unicode_nfc_dedup",
    "q161_triangle_count",
    "q162_minhash_portable",
    "q163_pmi_collocations",
    "q164_pseudonymize_ids",
    "q165_simhash_portable",
    "q166_hilbert_layout",
    "q167_local_clustering",
    "q168_time_weighted_avg",
    "q169_join_cardinality_estimate",
    "q170_rolling_median",
    "q171_event_runs",
    "q172_event_transitions",
    "q173_mad_outliers",
    "q174_pareto_abc",
    "q175_behavior_diversity",
    "q176_png_image_features",
    "q177_gif_image_features",
    "q178_spend_trend",
    "q179_chunk_dedup_first",
    "q180_bpe_pair_stats",
    "q181_bpe_train_2merges",
    "q182_dup_ngram_fraction",
    "q183_ann_recall_eval",
    "q184_bpe_encode_tokens",
    "q185_domain_affinity",
    "q186_tokenizer_fertility",
    "q187_mixture_apportionment",
    "q188_label_propagation",
    "q189_rrf_fusion",
    "q190_trimmed_mean",
    "q191_kmeans_spend_segments",
    "q192_bfs_supplier_hops",
    "q193_column_stats",
    "q194_price_histogram",
    "q195_weighted_sample",
    "q196_rank_distributions",
    "q197_bitwise_flag_rollup",
    "q198_pca_power_customers",
    "q199_column_stats_sketch",
    "q200_jpeg_image_features",
    "q201_pq_codes_int",
    "q202_bm25_ranking",
    "q203_equidepth_histogram",
    "q204_containment_scan",
    "q205_join_skew_profile",
    "q206_functional_dependency_audit",
    "q207_rolling_distinct_users",
    "q208_mixture_temperature",
    "q209_incremental_near_dup_portable",
    "q210_label_centroid_similarity",
    "q211_weighted_median",
    "q212_ir_eval_metrics",
    "q213_categorical_profile",
    "q214_correlation_matrix",
    "q215_gini_spend",
    "q216_encoding_advisor",
    "q217_benford_audit",
    "q218_touch_attribution",
    "q219_basket_lift",
    "q220_demand_variability",
    "q221_funnel_latency",
    "q222_dup_cluster_profile",
    "q223_brand_discount_response",
    "q224_revenue_anomaly_zscore",
    "q225_late_rate_wilson",
    "q226_mom_revenue_growth",
    "q227_referential_integrity_audit",
    "q228_curation_verdict",
    "q229_ewma_revenue_trend",
    "q230_chi2_independence",
    "q231_csv_roundtrip",
    "q232_jsonl_roundtrip",
    "q233_tukey_winsorize",
    "q234_abc_xyz_matrix",
    "q235_kanon_suppressed_report",
    "q236_csv_quarantine",
    "q237_jsonl_quarantine",
    "q238_blocking_quality",
    "q239_leakage_safe_split",
    "q240_mad_robust_scale",
    "q241_filter_agreement_kappa",
    "q242_percentile_rank_normalize",
    "q243_position_attribution",
    "q244_hazard_table",
    "q245_cusum_changepoint",
    "q246_hhi_concentration",
    "q247_parquet_schema_drift",
    "q248_kaplan_meier",
    "q249_mann_whitney",
    "q250_rfm_scores",
    "q251_spearman_rank_corr",
    "q252_partition_pruned_read",
    "q253_zipf_rank_frequency",
    "q254_snapshot_time_travel",
    "q255_ks_two_sample",
    "q256_mann_kendall_trend",
    "q257_compaction_binpack_plan",
    "q258_theil_sen_slope",
    "q259_seasonal_index",
    "q260_pareto_skyline",
    "q261_ols_trend_slope",
    "q262_erasure_cascade_audit",
    "q263_inverted_index",
    "q264_snapshot_retention_vacuum",
    "q265_weighted_systematic_sample",
    "q266_salted_skew_aggregate",
    "q267_bucketed_colocated_join",
    "q268_heavy_hitters_exact",
    "q269_incremental_view_maintenance",
    "q270_zonemap_skipping_audit",
    "q271_gap_fill_interpolate",
    "q272_sequence_motif_match",
    "q273_distribution_drift_tvd",
    "q274_consistent_hash_rebalance",
    "q275_scd2_dimension_history",
    "q276_interval_overlap_join",
    "q277_topk_with_ties",
    "q278_sorted_write_zonemap",
    "q279_zorder_interleave_audit",
    "q280_watermark_late_data_audit",
    "q281_scd2_incremental_merge",
    "q282_replica_divergence_audit",
    "q283_majority_vote_repair",
    "q284_sortedness_audit",
    "q285_stream_stream_interval_join",
    "q286_salted_skew_join",
    "q287_compaction_execute",
    "q288_bloom_zone_pruning",
    "q289_stream_outer_join_timing",
    "q290_dynamic_partition_pruning",
    "q291_stream_crash_recovery",
    "q292_stream_window_emission_timing",
    "q293_aqe_skew_join_rescue",
    "q294_aqe_partition_coalescing",
    "q295_rebalance_write_rescue",
    "q296_stateful_stream_state_recovery",
    "q297_aqe_broadcast_conversion",
    "q298_stream_dedup_ttl_replay",
    "q299_exactly_once_merge_sink",
    "medallion_gold_kpis",
]


def clock(run, *args):
    """Call run(*args); return (wall seconds rounded to ms, its result)."""
    t0 = time.time()
    result = run(*args)
    return round(time.time() - t0, 3), result


def _synthetic_docs(spark, n: int, near_dup: bool):
    """Deterministic (doc_id, text) corpus of n docs, 30 words each from a
    5000-word vocabulary. Every 10th doc (id % 10 == 0) reuses its
    successor's words: with near_dup it is prefixed 'variant ' (a planted
    near-duplicate pair, 10% of the corpus), otherwise it is an exact
    copy."""
    from pyspark.sql import functions as F

    words = (
        "concat_ws(' ', transform(sequence(0, 29), "
        "j -> concat('w', pmod(xxhash64(_seed, j), 5000))))"
    )
    text = (
        f"CASE WHEN id % 10 = 0 THEN concat('variant ', {words}) ELSE {words} END"
        if near_dup
        else words
    )
    return (
        spark.range(n)
        .withColumn("_seed", F.expr("CASE WHEN id % 10 = 0 THEN id + 1 ELSE id END"))
        .select(F.col("id").alias("doc_id"), F.expr(text).alias("text"))
    )


class Recorder:
    """The timings, variance samples and errors of one bench run."""

    def __init__(self) -> None:
        self.timings: dict[str, float] = {}
        self.variance: dict[str, object] = {}
        self.errors: dict[str, str] = {}

    def fail(self, label: str, exc: Exception) -> None:
        self.errors[label] = str(exc).split("\n")[0][:200]
        print(f"# {label}: FAILED ({self.errors[label]})", file=sys.stderr)

    def record(self, label: str, value: float, samples: list[float]) -> None:
        self.timings[label] = value
        self.variance[f"{label}_runs_sec"] = samples
        print(f"# {label}: {value:.2f}s (runs {samples})", file=sys.stderr)

    def attempt(self, label: str, run, canary=None) -> float | None:
        """Time one call of run(tmp), given a fresh empty directory that is
        removed after the call. With a canary the call must return it: a
        wrong result makes the timing meaningless, so it fails like an
        exception does. A failure is recorded under label and gives None."""
        try:
            with tempfile.TemporaryDirectory(
                prefix=f"bench_{label}_", ignore_cleanup_errors=True
            ) as tmp:
                sec, result = clock(run, tmp)
            if canary is not None and result != canary:
                raise AssertionError(f"{label} canary: got {result!r}, want {canary!r}")
            return sec
        except Exception as exc:
            self.fail(label, exc)
            return None

    def timed_section(self, label, run, reps, warmup=0, canary=None) -> None:
        """Attempt `warmup` + `reps` calls of run and record the min of
        the timed reps; warm-up seconds land only in `<label>_warmup_sec`.
        The first failure ends the section with no time recorded."""
        samples = []
        for rep in range(-warmup, reps):
            sec = self.attempt(label, run, canary)
            if sec is None:
                return
            if rep < 0:
                self.variance.setdefault(f"{label}_warmup_sec", []).append(sec)
            else:
                samples.append(sec)
        self.record(label, min(samples), samples)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    import __spark_entry__ as entrymod
    from spark_lakehouse_medallion_pipeline_spark.session import get_spark

    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()

    # Warm the JVM / parquet footers once so per-query numbers measure the
    # query, not session startup.
    try:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    except Exception as exc:
        print(f"# warmup scan failed: {exc}", file=sys.stderr)

    # Warm-up pass at the TARGET SF: the timed runs below then measure
    # steady-state distributed execution rather than one-time
    # whole-stage-codegen / JIT compilation (measured 6s of Janino on the
    # 64-column MinHash aggregate alone; warming at a smaller SF misses
    # the cache because AQE/broadcast decisions change the compiled plan).
    # Standard warm-run benchmarking; disclosed here.
    for name in HEADLINE:
        if name not in qs:
            continue
        try:
            qs[name](spark, sf_dir).count()
        except Exception as exc:  # warm-up must never fail the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    rec = Recorder()
    timings, variance, errors = rec.timings, rec.variance, rec.errors

    def timed_pass(run_label: str) -> dict[str, float]:
        pass_timings: dict[str, float] = {}
        for name in HEADLINE:
            if name not in qs:
                continue
            t0 = time.time()
            # Fault isolation: one broken query must never zero the whole
            # round's perf signal (round-1 lesson — q12 aborted the run).
            try:
                df = qs[name](spark, sf_dir)
                n = df.count()
                pass_timings[name] = round(time.time() - t0, 3)
                print(
                    f"# [{run_label}] {name}: {pass_timings[name]:.2f}s ({n} rows)",
                    file=sys.stderr,
                )
            except Exception as exc:
                errors[name] = str(exc).split("\n")[0][:200]
                print(f"# [{run_label}] {name}: FAILED ({errors[name]})", file=sys.stderr)
        return pass_timings

    # N=2 timed passes so run-to-run variance is recorded in the output.
    # Per-query PRIMARY figure is the MIN of the two passes (VERDICT r7
    # Next #2): despite the warm-up loop above, run1 of the 95-entry
    # headline was 17.2% slower than run2 in round 7 (first-pass JIT /
    # code-cache churn across that many distinct plans under gVisor), so
    # reporting run1 made round-over-round per-query comparison noisy.
    # min-of-2 is stable to ~1% and both raw pass totals stay in the
    # variance field for transparency.
    run1 = timed_pass("run1")
    run2 = timed_pass("run2")
    for name in HEADLINE:
        vals = [v for v in (run1.get(name), run2.get(name)) if v is not None]
        if vals:
            timings[name] = min(vals)
    t1, t2 = sum(run1.values()), sum(run2.values())
    variance.update(
        headline_total_run1_sec=round(t1, 3),
        headline_total_run2_sec=round(t2, 3),
        headline_total_min_sec=round(sum(timings.values()), 3),
        spread_pct=round(abs(t1 - t2) / max(min(t1, t2), 1e-9) * 100, 1),
    )

    # Materialized medallion end-to-end (the reference's flagship shape):
    # generate bronze -> partitioned parquet -> silver enrich -> gold KPIs,
    # timed with writes included; BASELINE.md's envelope is GB/min.
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.medallion.pipeline import run_pipeline
    from spark_lakehouse_medallion_pipeline_spark.operators.dedup import (
        dedup_chunks_keep_first,
        minhash_lsh_candidates,
    )
    from spark_lakehouse_medallion_pipeline_spark.operators.text import pack_sequences

    with tempfile.TemporaryDirectory(
        prefix="bench_medallion_warm_", ignore_cleanup_errors=True
    ) as warm_tmp:
        try:
            run_pipeline(spark, warm_tmp, rows=2_000, payload_kb=1)
        except Exception as exc:
            print(f"# warmup medallion failed: {exc}", file=sys.stderr)

    # Each medallion e2e section records the MIN of its reps: these
    # write-heavy sections occasionally catch a 3-4x transient (page-cache
    # flush / old-gen GC after the 80-query headline passes — observed
    # 28.8s vs a stable ~7s for the identical workload), and a single
    # sample would record the outlier as the round's number. Every sample
    # lands in the variance field.
    #
    # min-of-3 (r15, VERDICT r14 Next #5): the r14 committed record
    # caught a transient on this write-heavy entry (10.46 s vs 6.56 s
    # same-session quiet on identical code) that min-of-2 let through;
    # a third rep makes the min robust enough for the tighter
    # contention band in contention_reasons.
    pipeline_stats: list[dict] = []
    rec.timed_section(
        "medallion_e2e_100k",
        lambda tmp: pipeline_stats.append(
            run_pipeline(spark, tmp, rows=100_000, payload_kb=1)
        ),
        reps=3,
    )
    bronze_mb_s = None
    if pipeline_stats:
        st = pipeline_stats[0]
        bronze_mb_s = round(st["bronze_bytes"] / 1e6 / max(st["bronze_sec"], 1e-9), 2)

    # Scaled-up flagship: the same generate->silver->gold e2e at 1M rows
    # (10x the row count above) — evidence the pipeline's wall clock grows
    # sublinearly-to-linearly with rows, not with some fixed overhead.
    # 2 warmup reps before the recorded ones (VERDICT r6 Next #5): this
    # entry recorded wildly bimodal pairs across rounds with IDENTICAL
    # code (r5: 30.3/13.7 s; r6: 63.2/46.6 s). Controlled experiment
    # (fresh session, System.gc() between reps, fresh tmp dir each rep):
    # 29.4/31.2/16.3/15.9 s — the first TWO passes pay JVM JIT/codegen
    # warm-up for the write-heavy 1M plan regardless of GC or page
    # cache, then the workload is steady to within ~3%. Recording only
    # the post-warmup reps (and the warmup samples in the variance field,
    # for transparency) makes the flagship number comparable
    # round-over-round.
    rec.timed_section(
        "medallion_e2e_1m",
        lambda tmp: run_pipeline(spark, tmp, rows=1_000_000, payload_kb=1),
        reps=3,
        warmup=2,
    )

    # Payload-heavy regime (the reference's tuned path: 256 KB payloads,
    # vectorized reader OFF, batch 1024 — 43-silver-build.yaml:92-94). Run
    # the medallion at the reference's true payload size both ways, each
    # mode on its own session so the bench session's conf is never
    # touched. INTERLEAVED off/on, 3 reps each, MEDIAN recorded: this pair
    # exists to compare the two reader modes, and a 2-sample min is too
    # noisy to support a comparison (round 3 recorded [6.33, 11.99] s for
    # one side — a 90% spread — while claiming the modes were "within
    # noise"). Interleaving cancels slow drift (page cache, GC); the
    # median ignores one transient per side.
    payload_sessions = {}
    for label, vectorized in (
        ("medallion_payload256k_vec_off", "false"),
        ("medallion_payload256k_vec_on", "true"),
    ):
        payload_sessions[label] = spark.newSession()
        payload_sessions[label].conf.set(
            "spark.sql.parquet.enableVectorizedReader", vectorized
        )
    payload_samples: dict[str, list[float]] = {label: [] for label in payload_sessions}
    for _rep in range(3):
        for label, session in payload_sessions.items():
            sec = rec.attempt(
                label,
                lambda tmp: run_pipeline(session, tmp, rows=1_000, payload_kb=256),
            )
            if sec is not None:
                payload_samples[label].append(sec)
    for label, samples in payload_samples.items():
        if samples:
            # lower-middle median: with an even count (a rep failed) the
            # upper-middle pick would bias exactly the on/off comparison
            # this section exists to make noise-robust
            rec.record(label, sorted(samples)[(len(samples) - 1) // 2], samples)

    # Scaled dedup: the driver corpus tops out at 5k documents (sf0.1),
    # too small to evidence the MinHash->LSH pipeline's throughput claim.
    # Time the full signature->banding->candidate pipeline on the
    # synthetic corpus, min-of-2, at 100k and at 1M docs (a single sample
    # recorded a 34 s transient against a steady ~18 s in round-7/8
    # testing). The pair count is a correctness canary at both scales:
    # exactly the planted 10% pairs — zero false candidates at these
    # parameters, recall at scale, not just throughput. Each corpus frame
    # is built before its section, so its driver-side build stays out of
    # the timed reps.
    for label, n in (("dedup_lsh_100k", 100_000), ("dedup_lsh_1m", 1_000_000)):
        docs = _synthetic_docs(spark, n, near_dup=True)
        rec.timed_section(
            label,
            lambda _tmp: minhash_lsh_candidates(
                docs, num_hashes=64, bands=16, shingle_k=3
            ).count(),
            reps=2,
            canary=n // 10,
        )
    # Scale ratio for the dedup family (VERDICT r7 Next #7): LSH cost
    # is n*bands-linear (signature + banding shuffle) plus a fixed
    # per-job constant, so 10x docs should land well under 10x wall —
    # r7 raw numbers gave 5.1x (3.6 -> 18.1 s).
    if "dedup_lsh_1m" in timings and timings.get("dedup_lsh_100k"):
        variance["dedup_lsh_scale_ratio_10x_data"] = round(
            timings["dedup_lsh_1m"] / timings["dedup_lsh_100k"], 2
        )

    # Chunk-level exact dedup at 100k docs (q179's operator): 10% of the
    # corpus are EXACT copies of their successor doc, so first-occurrence
    # chunk dedup must reassemble exactly 10k docs to '' (the higher id of
    # each copy pair loses every chunk race) — a wrong keeper rule or a
    # chunk-boundary bug flips the canary.
    exact_docs = _synthetic_docs(spark, 100_000, near_dup=False)

    def chunk_dedup(_tmp: str) -> tuple:
        row = (
            dedup_chunks_keep_first(exact_docs)
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(F.when(F.col("n_kept") == 0, 1).otherwise(0)).alias("lost"),
            )
            .collect()[0]
        )
        return tuple(row)

    rec.timed_section(
        "chunk_dedup_100k", chunk_dedup, reps=2, canary=(100_000, 10_000)
    )

    # Corpus-curation e2e — the LLM-data counterpart of medallion_e2e:
    # 100k docs (10% planted near-dups) -> token-budget filter -> LSH
    # near-dup removal (drop the higher id of each candidate pair) ->
    # sequence packing -> write survivors + pack assignments, timed with
    # the writes. The survivor count is the canary: near-dup removal must
    # drop exactly the 10k planted variants.
    curation_docs = _synthetic_docs(spark, 100_000, near_dup=True).select(
        "doc_id", F.expr("concat('s', pmod(doc_id, 8))").alias("source"), "text"
    )

    def curate(tmp: str) -> int:
        filtered = curation_docs.filter(
            F.expr("size(split(text, '\\\\s+')) BETWEEN 8 AND 64")
        )
        cands = minhash_lsh_candidates(filtered, num_hashes=64, bands=16, shingle_k=3)
        survivors = filtered.join(
            cands.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(f"{tmp}/docs")
        pack_sequences(survivors, ctx_len=512).write.mode("overwrite").parquet(
            f"{tmp}/packs"
        )
        return spark.read.parquet(f"{tmp}/docs").count()

    rec.timed_section("corpus_e2e_100k", curate, reps=1, canary=90_000)

    # Scale-linearity spot checks (VERDICT r6 Next #7): time selected
    # families at sf0.01 (10x less data than the sf0.1 headline corpus)
    # and record t(sf)/t(sf0.01). The claim under test for the BPE
    # family: everything after the first groupBy is VOCABULARY-sized,
    # so a 10x corpus should cost well under 10x — the ratio
    # substantiates the 100 TB story where the word-dict collapse is
    # the whole scale move. min-of-2 on the small side vs min of the
    # two recorded headline passes.
    small_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if os.path.isdir(small_dir) and os.path.realpath(small_dir) != os.path.realpath(
        sf_dir
    ):

        def scale_point(name: str, big_dir: str | None = None) -> float | None:
            """Record t(sf)/t(sf0.01) for one entry, min-of-2 at sf0.01
            against its headline min, or against min-of-2 at big_dir."""

            def rows_at(d: str) -> int:
                return qs[name](spark, d).count()

            try:
                t_small = min(clock(rows_at, small_dir)[0] for _ in range(2))
                t_big = (
                    timings[name]
                    if big_dir is None
                    else min(clock(rows_at, big_dir)[0] for _ in range(2))
                )
            except Exception as exc:
                print(f"# scale-linearity {name} failed: {exc}", file=sys.stderr)
                return None
            variance[f"{name}_sf001_sec"] = t_small
            # "_10x_data", not "_10x_docs": q191/q193 scale with TPC-H
            # orders/lineitem rows, not document count (ADVICE r7) —
            # the neutral suffix covers both input families.
            ratio = variance[f"{name}_scale_ratio_10x_data"] = round(
                t_big / max(t_small, 1e-9), 2
            )
            print(
                f"# scale-linearity {name}: sf0.01 {t_small:.2f}s -> "
                f"{t_big:.2f}s at sf{sf} (ratio {ratio}x for 10x data)",
                file=sys.stderr,
            )
            return t_big

        for name in (
            "q181_bpe_train_2merges",
            "q184_bpe_encode_tokens",
            "q186_tokenizer_fertility",
            # round-7 families: k-means is k-row-aggregate bound, column
            # stats is one stacked scan — both should grow well under 10x
            "q191_kmeans_spend_segments",
            "q193_column_stats",
            # round-8 families: PQ's codebook is tuple-aggregate bound,
            # the rolling-distinct merge is day-bitmap bound, and the
            # containment probe is df-cap bounded — all model-sized
            # after their first aggregate
            "q201_pq_codes_int",
            "q207_rolling_distinct_users",
            "q204_containment_scan",
            # round-8-late families: the categorical profile collapses
            # to vocabulary size after one stacked scan, basket lift to
            # (user, type) distinct pairs, demand variability to
            # part-week then part aggregates — all model-sized after
            # their first shuffle
            "q213_categorical_profile",
            "q219_basket_lift",
            "q220_demand_variability",
            # round-9 families: the two-pass distributed rank (q215
            # rides relational.distributed_rank — two balanced
            # exchanges, no single-partition stage) and the
            # blocking-quality audit (token join + band join on the
            # deterministic sample)
            "q215_gini_spend",
            "q238_blocking_quality",
            # round-10 adds (VERDICT r9 Next #4): the two queries that
            # demonstrate distributed_rank's scale shape empirically —
            # q242's empirical CDF ranks every row (the operator's
            # row-scale stress), q245's changepoint rides its prefix-sum
            # path; both should track the two balanced exchanges, never
            # a single-partition sort.
            "q242_percentile_rank_normalize",
            "q245_cusum_changepoint",
            # round-10-late add: the KS test rides the NEW multi-
            # prefix-sum rank form (both ECDFs in one two-pass rank
            # over the value domain) — its ratio certifies that the
            # widened operator kept the balanced-exchange scale shape.
            "q255_ks_two_sample",
            # round-13/14 families (VERDICT r13 Next #5): record their
            # sf0.01 -> sf0.1 ratios so scaling is seen empirically, not
            # just structurally. Stream replays ride one distributed
            # rank (expect ~linear); the salted and AQE skew joins are
            # one balanced exchange each; compaction/DPP/bloom pay real
            # write+verify I/O proportional to data. q291/q296 are
            # excluded (as is q299): their corpus is a fixed 6000-row
            # synthetic stream at every SF, so a cross-SF ratio would
            # measure nothing.
            "q285_stream_stream_interval_join",
            "q286_salted_skew_join",
            "q287_compaction_execute",
            "q288_bloom_zone_pruning",
            "q289_stream_outer_join_timing",
            "q290_dynamic_partition_pruning",
            "q292_stream_window_emission_timing",
            "q293_aqe_skew_join_rescue",
            "q294_aqe_partition_coalescing",
            "q295_rebalance_write_rescue",
            "q297_aqe_broadcast_conversion",
            "q298_stream_dedup_ttl_replay",
        ):
            if name not in qs:
                continue
            if name not in timings:
                print(
                    f"# scale-linearity {name} skipped: no recorded headline"
                    " timing (query failed both passes)",
                    file=sys.stderr,
                )
                continue
            scale_point(name)

        # q159 exact jaccard prefix join: headline-excluded (output
        # materialization swamps the signal — see HEADLINE note), but its
        # scale story must be MEASURED, not asserted (VERDICT r9 Next
        # #4), so time both SFs directly here. min-of-2 each side, same
        # discipline as the roster above.
        name = "q159_jaccard_prefix_join"
        if name in qs and (t_big := scale_point(name, sf_dir)) is not None:
            variance[f"{name}_sf01_sec"] = t_big
            # Recording convention (VERDICT r12 What's-wrong #3):
            # this min-of-2 point estimate of a 20-40s adversarial
            # kernel has ranged 10-17x across r10-r13 on UNCHANGED
            # code — window noise, not a code trend. The band rides
            # the full record so a single round's point value is
            # never read as a regression/improvement narrative.
            variance[f"{name}_ratio_band_observed"] = (
                "10-17x across rounds on unchanged code (min-of-2 "
                "each side; window-noise dominated — compare against "
                "the band, not the point)"
            )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "bronze_write_mb_s": bronze_mb_s,
        "variance": variance,
    }
    if errors:
        out["errors"] = errors

    # CONTENTION GUARD (VERDICT r10 Next #4): the driver's r10 recording
    # ran on a contended host (spread 184.6%, medallion_e2e_1m 83 s vs a
    # committed 16 s for identical code) and would have poisoned
    # round-over-round comparison if read at face value. A recording
    # self-flags as contended when (a) the two headline passes disagree
    # by >25% — a quiet host holds min-of-2 comparability even when raw
    # spread is 10-17%, and 25% is ~2x the worst quiet-host spread ever
    # observed here — or (b) any named section's min-of-reps exceeds 2x
    # the committed prior record's min for the same key (only keys >= 2 s
    # in the prior, so sub-second jitter can't trip it). The record is
    # still emitted (the driver needs a line to parse) but carries
    # "contended": true + reasons, and the comparator convention is
    # min-of-2 on a quiet host (README, Benchmarks).
    base_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(base_dir, "BENCH_FULL_LATEST.json")) as fh:
            prior = json.load(fh)
    except (OSError, ValueError):
        prior = None
    contended_reasons = contention_reasons(variance, prior)
    if contended_reasons:
        out["contended"] = True
        out["contended_reasons"] = contended_reasons
        print(
            "# CONTENDED RECORDING — do not use as a round-over-round "
            f"comparator: {'; '.join(contended_reasons)}",
            file=sys.stderr,
        )

    # The driver's capture keeps only the LAST ~2000 characters of stdout
    # and parses the final line as JSON (BENCH_r07.json: the single
    # ~3.5 KB line was cut mid-queries-dict and parse failed — VERDICT r7
    # Next #3). Three-layer fix:
    #   1. the FULL verbose JSON is written next to this script
    #      (committed with the round, so every per-query time survives
    #      for round-over-round comparison) — see persist_full_record
    #      for the contended-vs-clean routing;
    #   2. the full JSON is still printed first (contract/logs);
    #   3. the FINAL stdout line is a compact (<2000-char) JSON that fits
    #      the capture window whole — see build_compact_line.
    persist_full_record(out, base_dir)
    print(json.dumps(out))
    print(build_compact_line(out))


def persist_full_record(out: dict, base_dir: str) -> str:
    """Write the full verbose record to disk and return the path written.

    Laundering fix (VERDICT r11 What's-wrong #1): a CONTENDED recording
    must never become the next run's arm-(b) comparator. The old code
    unconditionally overwrote BENCH_FULL_LATEST.json, so a flagged
    48.5%-spread attempt displaced the clean r10 prior on disk; the
    re-run then compared against a contended prior, skipped arm (b),
    and committed a medallion_e2e_100k min 2.4x the clean record without
    tripping the guard. Now flagged records go to
    BENCH_CONTENDED_LATEST.json (kept for diagnosis, never read as a
    comparator) and BENCH_FULL_LATEST.json holds only the last CLEAN
    record."""
    name = (
        "BENCH_CONTENDED_LATEST.json"
        if out.get("contended")
        else "BENCH_FULL_LATEST.json"
    )
    path = os.path.join(base_dir, name)
    try:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"# could not write {path}: {exc}", file=sys.stderr)
    return path


def contention_reasons(variance: dict, prior: dict | None) -> list[str]:
    """The contention guard's decision, separated for unit testing:
    reasons this recording must not be used as a round-over-round
    comparator. (a) headline pass spread > 25% (quiet-host raw spread
    is 10-17% here; 25% is ~2x the worst quiet observation); (b) any
    named section's min-of-reps beyond a band over the committed prior
    record's min for the same key — 2x for 2-5 s priors, tightened to
    1.6x for priors >= 5 s (r15, VERDICT r14 Next #5: the r14 committed
    record carried medallion_e2e_100k at 1.59x its same-session quiet
    value without tripping the old uniform 2x band; the big e2e
    sections now also run min-of-3, so their min is robust enough for
    the tighter band). Priors below 2 s are ignored so sub-second
    jitter can't trip it. A prior that is itself flagged contended is
    not a comparator and arm (b) is skipped."""
    reasons = []
    if variance["spread_pct"] > 25:
        reasons.append(f"headline spread {variance['spread_pct']}% > 25%")
    if prior and not prior.get("contended"):
        pvar = prior.get("variance", {})
        for key, reps in variance.items():
            if not key.endswith("_runs_sec") or not isinstance(reps, list):
                continue
            prior_reps = pvar.get(key)
            if not isinstance(prior_reps, list) or not prior_reps:
                continue
            cur_min, pri_min = min(reps), min(prior_reps)
            band = 1.6 if pri_min >= 5.0 else 2.0
            if pri_min >= 2.0 and cur_min > band * pri_min:
                reasons.append(
                    f"{key} min {cur_min:.1f}s > {band}x committed {pri_min:.1f}s"
                )
    return reasons


def build_compact_line(out: dict) -> str:
    """The final stdout line: a <2000-char JSON the driver's tail
    capture keeps whole (it records only the LAST ~2000 chars and
    parses the last line). Shared with the pytest length guard
    (test_bench_compact_line_fits_capture_window) so test and output
    can never drift apart. The first form keeps 2-decimal times under
    short keys ("q01" = q01_pricing_summary — names in the full file).
    Over budget, the adaptive encoder keeps every entry and buys what
    precision still fits; a run with failures must still fit, since
    those are exactly the runs where the surviving signal matters
    most."""
    import re

    timings, variance = out["queries"], out["variance"]

    def short_key(k: str, bare: bool) -> str:
        if k.startswith("q"):
            n = re.match(r"q(\d+)", k)
            return n.group(1) if bare else n.group(0)
        return "medallion" if k == "medallion_gold_kpis" else k

    compact_variance: dict[str, object] = {
        "run1": variance["headline_total_run1_sec"],
        "run2": variance["headline_total_run2_sec"],
        "spread_pct": variance["spread_pct"],
    }
    # 10x scale ratios as a nested dict with bare-number / short keys —
    # flat "<name>_10x" keys pushed the line past the degrade threshold
    # once the list grew to 9 families
    ratios = {}
    for k, v in variance.items():
        if k.endswith("_scale_ratio_10x_data"):
            base = k[: -len("_scale_ratio_10x_data")]
            m = re.match(r"q(\d+)", base)
            ratios[m.group(1) if m else base.split("_")[0]] = v
    if ratios:
        compact_variance["10x"] = ratios
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": {short_key(k, bare=False): round(v, 2) for k, v in timings.items()},
        "sf": out["sf"],
        "bronze_mb_s": out.get("bronze_write_mb_s"),
        "variance": compact_variance,
        "note": "min2;full=BENCH_FULL_LATEST.json",
    }
    if out.get("contended"):
        # survives every degrade step: a contended record must never be
        # readable as a clean comparator even from the compact line
        compact["contended"] = True
    errors = out.get("errors") or {}
    if errors:
        compact["errors"] = {k: v[:60] for k, v in errors.items()}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # Adaptive encoder. EVERY benched entry appears in the final
        # line, always: the old integer-second + omit-if-zero steps made
        # queries that got FASTER vanish from the driver's parse (8
        # phantom "dropped" queries in PERF_r14) and pinned fast
        # entries' 8-vs-32-core scaling ratios at 1.0.
        #
        # Budget reality at the current battery (206 entries): the
        # queries map alone at 1 decimal is 2143 chars against the
        # driver's hard 2000-char capture, so all-1dp is physically
        # impossible. Budget is reclaimed from the envelope (terse
        # variance keys; bronze_mb_s and the raw run totals live in
        # BENCH_FULL_LATEST.json), then from the error text, and, only
        # when still needed, the 10x scale ratios (also committed in the
        # full record, where the judge reads them — the DRIVER's own
        # 8-vs-32-core scaling is computed from the per-entry values, so
        # per-entry precision outranks our in-line copy of the 10x
        # ratios). Remaining budget buys precision adaptively: values in
        # [low, 10) seconds keep 1 decimal, others are integer seconds,
        # with `low` the smallest rung that fits. Integral values are
        # emitted as bare ints (same number, 2 fewer chars). An entry
        # that ran never prints 0: a sub-0.5 s entry below the rung
        # prints its integer ceiling, 1 (one decimal for every such
        # entry would overrun the window).
        compact.pop("bronze_mb_s", None)
        compact["value"] = round(out["value"], 1)
        # In-line variance shrinks to the contention-guard signal alone
        # (spread %); the raw run totals are committed in the full
        # record and their ~28 chars buy one more precision rung below.
        lean_variance: dict[str, object] = {"sp": variance["spread_pct"]}

        def adaptive_queries(low: float) -> dict:
            enc = {}
            for k, v in timings.items():
                r = round(v, 1) if low <= v < 10 else float(max(round(v), 1))
                enc[short_key(k, bare=True)] = int(r) if r == int(r) else r
            return enc

        err_forms: list[object] = [compact.get("errors")]
        if errors:
            err_forms += [sorted(errors), {"n_errors": len(errors)}]
        var_forms: list[dict] = []
        if ratios:
            ratios_1dp = {k: round(v, 1) for k, v in ratios.items()}
            var_forms.append(dict(lean_variance, **{"10x": ratios_1dp}))
        var_forms.append(lean_variance)
        for err_form in err_forms:
            if err_form is not None:
                compact["errors"] = err_form
            for var_form in var_forms:
                compact["variance"] = var_form
                for low in (0, 0.5, 1, 1.5, 2, 2.5, 3, 5, 10):
                    compact["queries"] = adaptive_queries(low)
                    compact["note"] = f"m2 d{low:g};f=FULL"
                    line = json.dumps(compact, separators=(",", ":"))
                    if len(line) <= 1950:
                        return line
        # Past every rung (would take a ~280-entry battery): the line
        # stays all-int with every entry present — never omit.
    return line

if __name__ == "__main__":
    main()
