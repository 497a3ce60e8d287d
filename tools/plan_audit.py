"""Physical-plan audit across the whole registry.

For every `queries()` key, explain("formatted") the plan and grep for
the patterns that do not survive a 100x scale-up:

- CartesianProduct / BroadcastNestedLoopJoin — quadratic joins. Allowed
  only where a tiny side is intentional (guarded crossJoin, probe
  broadcasts); everything else must be a hash/SMJ or a bucketized
  rewrite.
- BatchEvalPython — row-at-a-time Python UDF in the plan. Allowed only
  for the explicitly-registered escape hatches (`udf_scalar_py`,
  `udtf_lateral_split`); Arrow paths (ArrowEvalPython / mapInPandas /
  FlatMapGroupsInPandas) are fine.
- Exchange count — ENFORCED (r2): every key has a declared
  ``max_shuffles`` ceiling (MAX_SHUFFLES below; default 0 for keys not
  listed). A future edit that introduces an avoidable Exchange exceeds
  its ceiling and the audit exits nonzero. A key with shuffles but no
  declared ceiling is also flagged — adding an operator means declaring
  its expected shuffle budget.

Round-5 addition (VERDICT r4 next #2): ``--bytes`` EXECUTES every key
and records its total shuffle WRITE bytes over the stages of its own
job group (mediaplaycounts_spark.profile). The exchange-count
gate cannot see a payload-width regression — e.g. a string key
sneaking back into an exchange, the exact bug class r4 fixed in
dedup_substring_spans — but the bytes gate can: each key is checked
against the committed ``SHUFFLE_BYTES.json`` baseline and flagged when
it exceeds ``max(1.5 x baseline, baseline + 64 KiB)`` (the additive
slack absorbs partition-count jitter on tiny keys).

Usage:
    python tools/plan_audit.py [--sf /root/testdata/sf0.001] > PLAN_AUDIT.md
    python tools/plan_audit.py --bytes --sf /root/testdata/sf0.1 \
        [--update-baseline] [keys...] > SHUFFLE_BYTES.md
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import pathlib
import re
import sys

sys.path.insert(0, "/root/repo")

#: Keys whose quadratic or Python-row-wise node is the documented point
#: of the operator (tiny side / escape hatch), with the reason.
ALLOWED = {
    "join_cross_small": "guarded crossJoin, small side only",
    "join_range_interval": "theta join kept as the naive baseline; scale path is join_range_bucketized",
    "sim_knn_join": "broadcast probe BNLJ: probe side is a 5-row batch",
    "sim_topk_probe": "probe vector broadcast, corpus never moves",
    "agg_funnel_steps": "three 1-row aggregates crossed together",
    "graph_triangle_count": "two 1-row count aggregates crossed for the summary row",
    "udf_scalar_py": "the documented row-wise UDF escape hatch",
    "udtf_lateral_split": "the documented Python table-function escape hatch",
    "agg_variance_exact": "single-row moment tables crossed",
    "agg_heavy_hitters": "candidate set crossJoin with 1-row total",
    "scan_tsv_log": "tiny fixture union",
    "ts_gapfill_interpolate": "calendar spine x type list: both sides tiny by construction (O(types x days) grid)",
    "sim_mmr_diversify": "greedy argmax stages crossJoin 1-row broadcast selected sets over the k-candidate table",
    "text_perplexity_unigram": "1-row corpus-total aggregate crossed in (broadcast)",
    "pipeline_domain_mixture": "1-row min-count aggregate crossed into the per-lang rate table",
    "agg_hll_intersection": "1-row sketch + exact-twin aggregates crossed together",
    # VERDICT r2 #1 within_bound keys: the quadratic node is always a
    # crossJoin of 1-row grading summaries (exact-twin counts / flags)
    # broadcast onto a tiny (<= k rows) output — never data x data.
    "dedup_near_minhash": "1-row exact/hit/fp count aggregates crossed into the summary row",
    "dedup_simhash": "1-row near/far hamming summary aggregates crossed; half-count broadcast onto ranks",
    "sim_ann_lsh": "1-row within_bound flag broadcast onto the 20-row exact top-k",
    "sim_ann_lsh_multiprobe": "1-row within_bound flag broadcast onto the 20-row exact top-k",
    "sim_ann_ivf": "1-row within_bound flag broadcast onto the 20-row exact top-k",
    "sim_ann_pq": "1-row within_bound flag broadcast onto the 20-row exact top-k",
    "sim_ann_ivf_partitioned": "1-row within_bound flag broadcast onto the 20-row exact top-k",
    "text_contamination_bloom": "1-row within_bound summary crossed onto per-doc rows",
    "agg_theta_set_ops": "1-row sketch + exact-twin aggregates crossed together",
    "ts_changepoint_cusum": "1-row total and 1-row peak-max broadcast onto the daily series",
    "ts_autocorr_int": "1-row total aggregate broadcast onto the daily series",
    "win_time_decay_score": "1-row max-ts aggregate broadcast onto the fact scan",
    "agg_anova_oneway": "1-row grand-total aggregate crossed into the k-row moment table",
    "agg_survival_km": "1-row corpus-max-day aggregate broadcast onto the user-day table",
    "agg_funnel_time_to_convert": "1-row entered-count aggregate crossed into the summary row",
    "join_range_overlap_duration": "theta join against a 2-row broadcast window table (bucketize at many-windows scale)",
    "agg_benford_digit_test": "1-row total broadcast onto the 9-row digit spine",
    "text_bpe_merge_rounds": "1-row winning-pair broadcast into the rewrite projection; 1-row totals crossed onto 1-row winner rows",
    "sim_threshold_sweep": "4-row threshold spine broadcast-theta-joined onto the blocked pair table",
    "agg_basket_lift_pairs": "1-row basket-total aggregate broadcast onto the pair table",
    "text_pmi_cooccurrence": "1-row corpus-size aggregate broadcast onto the pair table",
    "win_rank_movers": "1-row order-date-bounds aggregate broadcast onto the fact scan",
    "sim_rerank_rrf": "1-row probe embedding + probe token-set broadcast onto the corpus scan",
    "agg_target_encoding": "1-row global moment aggregate broadcast onto the category table",
    "agg_price_volume_mix": "1-row order-date-bounds aggregate broadcast onto the fact scan",
    "sim_dim_truncation_eval": "1-row probe embedding broadcast onto the corpus scan; 10-row top-k membership broadcast",
    "agg_diff_in_diff": "1-row time-midpoint aggregate broadcast onto the scan; 4-cell pivot",
    "text_source_divergence_jsd": "1-row source-pair and vocabulary-totals aggregates broadcast onto the vocab table",
    "agg_pareto_share": "1-row activity-totals aggregate broadcast onto the user table",
}


#: Declared shuffle-count ceilings (r1 audited plans). Keys absent
#: here must produce ZERO shuffles. Raising a ceiling is a reviewed
#: act: justify the extra Exchange in the commit that does it.
MAX_SHUFFLES = {
    # round-4 keys (declared budgets; see each docstring's scale note)
    "agg_bootstrap_ci_poisson": 1,
    "agg_anova_oneway": 3,
    "agg_survival_km": 3,
    "agg_funnel_time_to_convert": 4,
    "join_range_overlap_duration": 2,
    "pipeline_dedup_rate_report": 2,
    "sink_parquet_zstd": 1,
    "join_geo_nearest": 1,
    "agg_cohort_ltv_curve": 5,
    "win_time_decay_score": 1,
    "agg_log2_histogram": 1,
    "agg_weighted_median": 1,
    "dedup_shingle_df_stats": 2,
    "join_bloom_pruned": 1,
    "pipeline_dataset_diff": 3,
    "scan_file_metadata_cols": 2,
    "text_bigram_cond_entropy": 2,
    "text_hapax_ratio": 2,
    "text_rake_keywords": 5,
    "text_token_fertility": 1,
    "win_active_day_islands": 2,
    "win_percent_change_wow": 2,
    "agg_anomaly_flag": 3,
    "agg_argmax_daily": 2,
    "agg_attribution_last_touch": 1,
    "agg_bitwise_bool": 1,
    "agg_collect_list": 1,
    "agg_corr_exact": 1,
    "agg_count_if_filtered": 1,
    "agg_cube": 1,
    "agg_daily_playcount": 1,
    "agg_date_range_total": 1,
    "agg_distinct_count": 2,
    "agg_embedding_centroid": 1,
    "agg_entropy_shannon": 2,
    "agg_funnel_steps": 5,
    "agg_gini_concentration": 2,
    "agg_grouping_sets": 1,
    "agg_heavy_hitters": 2,
    "agg_histogram_value": 1,
    "agg_incremental_daily_merge": 1,
    "agg_kurtosis_exact": 1,
    "agg_listagg": 2,
    "agg_mode_exact": 2,
    "agg_multi": 1,
    "agg_multi_distinct": 2,
    "agg_peak_concurrency": 1,
    "agg_percentile": 1,
    "agg_pivot": 2,
    "agg_retention_cohorts": 3,
    "agg_rollup": 1,
    "agg_skewness_exact": 1,
    "agg_trend_slope": 2,
    "agg_variance_exact": 1,
    "array_exists_forall": 1,
    "dedup_embedding_cosine": 4,  # +1 r5 broadcast hardening; +1 r9 pair-key
    # aggregate barrier (join-condition audit: keeps the cosine lambda out
    # of the join condition — the r8 aged-JVM hazard; 24 B/row exchange)
    "dedup_exact": 1,
    # r9 pair-key aggregate barrier (join-condition audit: Levenshtein DP
    # out of the join condition; length-difference guard stays in)
    "dedup_fuzzy_levenshtein": 1,
    "dedup_exact_hash": 1,
    # r3: within_bound keys (VERDICT r2 #1) carry their exact grading
    # twin IN the plan — the extra shuffles below are the twin's
    # (grading-only; at scale only the approximate path runs).
    # r5 broadcast hardening: every join side that carries shingle-set
    # ARRAYS is now hint-pinned to shuffle_hash/merge (Catalyst's size
    # estimate for those sides derives from the compressed parquet scan
    # and under-reads by 100-1000x — at sf1 it broadcast a multi-GB
    # relation into the 8 GB driver and OOM'd). Each such join trades
    # one broadcast for 1-2 LINEAR-volume exchanges; ceilings below
    # reflect the reviewed post-hardening plans.
    # r8 aggregate-barrier verify: the exact jaccard/containment predicate
    # moved out of the pair-fetch JOIN CONDITION (where expensive exprs
    # measured 2.5-2.8x aged-JVM CPU inflation — operators/dedup.py::
    # _jaccard_verify) into a groupBy(pair)-barrier: +1 slim exchange
    # ((id_a,id_b,score) — 24 B/row) per embedded verify. Ceilings below
    # updated by exactly the embedded-verify count of each key.
    "dedup_near_minhash": 24,  # +2 r8 barrier (raw LSH verify + exact twin)
    "dedup_ngram_jaccard": 3,  # +1 r8 barrier
    "dedup_paragraphs": 3,
    "dedup_minhash_clusters": 2,
    "text_contamination_bloom": 5,
    "agg_kll_quantile_merge": 4,
    "agg_cms_frequency": 1,
    "win_pattern_sequence": 1,
    "sql_identifier_dynamic": 1,
    "win_rolling_distinct_hll": 5,
    "join_asof_forward": 1,
    "text_quality_logreg": 0,
    "ts_seasonal_decompose": 2,
    "pipeline_preference_pairs": 2,
    "pipeline_annotation_vote": 2,
    "dedup_incremental_delta": 2,
    "ts_changepoint_cusum": 4,
    "agg_conversion_wilson": 1,
    "text_readability_score": 0,
    "scan_bucket_pruned_lookup": 0,
    "agg_ab_test_proportions": 1,
    "multimodal_audio_vad": 0,
    "agg_winsorize_stats": 2,
    "ts_autocorr_int": 2,
    "graph_link_prediction": 9,
    "text_char_entropy": 4,
    "multimodal_image_phash": 0,
    "join_interval_overlap": 3,
    "agg_markov_transitions": 5,
    "agg_benford_digit_test": 2,
    "dedup_unicode_confusables": 2,
    "pipeline_length_bucket_batches": 1,
    "text_novelty_curve": 3,
    "scan_observe_metrics": 0,
    "agg_theta_set_ops": 6,
    "dedup_substring_spans": 2,
    "pipeline_split_leakage_guard": 10,  # +4: r5 broadcast hardening, pair join x2 sides; +2 r8 barrier x2 sides
    "agg_approx_distinct": 3,
    "agg_hll_sketch_merge": 4,
    "dedup_simhash": 10,  # +2: r5 broadcast hardening; +1 r8 barrier (exact-pair twin)
    "dedup_url_canonical": 1,
    "filter_quality_rank": 1,
    "graph_pagerank_int": 9,
    "graph_triangle_count": 15,
    "join_asof": 1,
    "join_asof_tolerance": 1,
    "join_cross_small": 1,
    "join_dpp_partition_pruned": 1,
    "join_lateral_topn": 1,
    "join_left_outer_datespine": 1,
    "join_null_safe": 1,
    "join_range_bucketized": 1,
    "join_range_interval": 1,
    "join_skew_salted": 1,
    "json_variant_extract": 1,
    "reshape_unpivot": 2,
    "sample_k_per_group": 1,
    "scan_jdbc": 1,
    "scan_orc": 1,
    "scan_python_datasource": 1,
    "scan_schema_evolution": 1,
    "scan_tsv_log": 1,
    "scan_xml": 1,
    "setop_except": 1,
    "setop_intersect": 1,
    "setop_union_distinct": 1,
    "sim_cosine_pairs": 3,  # +1 r5 broadcast hardening; +1 r9 pair-key
    # aggregate barrier (see dedup_embedding_cosine)
    "sim_knn_join": 1,
    "sim_mmr_diversify": 1,
    "sink_compact_small_files": 1,
    "sort_zorder_cluster": 1,
    "sql_pipe_syntax": 1,
    "sql_recursive_cte": 1,
    "sql_subquery_decorrelate": 1,
    "stream_dedup_stateful": 2,
    "stream_foreachbatch_jdbc": 1,
    "stream_session_window": 1,
    "stream_sliding_counts": 1,
    "stream_stateful_running_totals": 1,
    "stream_tumbling_counts": 1,
    "string_collation_group": 1,
    "text_contamination_overlap": 2,
    "text_lang_filter_stats": 1,
    "text_ngram_counts": 2,
    "text_rarity_score": 4,
    "text_tfidf_topterms": 5,
    "text_tokenize_wordcount": 1,
    "text_zipf_exponent": 2,
    "ts_ewma_int": 2,
    "ts_gapfill_interpolate": 2,
    "ts_ohlc_bars": 1,
    "ts_resample_weekly": 2,
    "udaf_pandas_grouped": 1,
    "udtf_grouped_map": 1,
    "win_cumulative": 2,
    "win_first_last": 1,
    "win_lag_delta": 2,
    "win_range_value_frame": 1,
    "win_rank_dense": 1,
    "win_rolling_30d": 2,
    "win_rolling_distinct": 4,
    "win_rolling_median": 2,
    "win_streak_runs": 2,
    "win_topk_per_group": 2,
    "text_perplexity_unigram": 6,
    "pipeline_pack_sequences": 1,
    "stream_restart_idempotent": 1,
    "text_containment_pairs": 3,  # +1: r5 broadcast hardening; +1 r8 barrier
    "win_percent_rank_ntile": 2,
    "ts_anomaly_mad": 3,
    "sink_json_lines": 1,
    "pipeline_domain_mixture": 2,
    "pipeline_token_budget_trim": 1,
    "reshape_scd2_history": 1,
    "agg_approx_percentile": 2,
    "stream_watermark_late_drop": 1,
    "setop_except_all": 1,
    "setop_intersect_all": 1,
    "ts_downsample_m4": 1,
    "udaf_pandas_window": 1,
    "graph_degree_distribution": 2,
    "sink_merge_upsert": 2,
    "graph_bfs_hops": 3,
    "scan_tsv_bz2_compressed": 1,
    "pipeline_curate_corpus": 1,
    # e2e composition: the audited (post-fork-checkpoint) plan is
    # join(lang-window(RDD), shard-grouped-map(RDD)) — window exchange,
    # grouped-map exchange, and the doc_id join's two sides; upstream
    # stages live behind the three checkpoint cuts and are audited via
    # their own per-stage keys.
    "pipeline_e2e_curation": 4,
    # e2e daily ingest: the write path ran eagerly behind the store sink
    # (audited via agg_daily_playcount/sink_parquet_partitioned), and so
    # did the three probes' date_range API reads — each one pruned,
    # exchange-free read, zero-filled on the driver. The returned plan
    # is their payloads as a local table: zero shuffles.
    "pipeline_e2e_daily_ingest": 0,
    "agg_session_bounce_rate": 2,
    "join_temporal_scd2_asof": 1,
    "win_session_paths": 1,
    "text_langid_char_ngram": 4,
    "pipeline_shard_manifest": 1,
    "dedup_exact_normalized": 1,
    "agg_hll_intersection": 4,
    "win_rolling_corr": 2,
    "sql_udf_params_lateral": 1,
    # r3 continuation batch (audited at sf0.001):
    "join_asof_nearest": 1,
    "ts_interval_merge": 1,
    "agg_chi_square_independence": 1,
    "pipeline_dataset_card": 4,
    # post-localCheckpoint plan: the final authority table is
    # materialized at the union fork, last half-round only remains.
    "graph_hits_int": 4,
    "join_geo_grid": 2,  # broadcast at sf0.001; cell-key shuffle at scale
    "agg_ols_normal_eq": 1,
    "text_bpe_merge_rounds": 4,  # per-round (pair) hash agg + 1-row aggs
    "join_star_multi_dim": 1,  # all dims broadcast; only the cube agg shuffles
    "win_rolling_slope": 2,
    "ts_theil_sen": 3,
    "pipeline_vocab_coverage": 2,
    "sim_threshold_sweep": 4,  # +1 r5 broadcast hardening; +1 r9 pair-key
    # aggregate barrier (see dedup_embedding_cosine)
    "scan_table_profile": 1,
    "pipeline_feature_vector_assemble": 1,
    "stream_update_mode_final": 1,
    "sink_sorted_rowgroup_prune": 1,  # rangepartitioning for the sorted write
    "agg_basket_lift_pairs": 8,  # distinct + order-key pair join + per-part counts
    "agg_rfm_scores": 1,
    "win_drawdown_max": 2,
    "ts_wape_naive_eval": 2,
    "agg_new_vs_returning": 3,
    "sql_group_by_all": 1,
    "join_full_outer_reconcile": 3,
    "text_pmi_cooccurrence": 4,  # doc-blocked pair join + marginal joins
    "win_rank_movers": 6,
    "agg_dau_mau_stickiness": 5,
    # pipeline_epoch_shuffle_plan: pure projection, zero shuffles (absent = 0)
    "agg_target_encoding": 1,
    "agg_price_volume_mix": 6,
    "ts_cumulative_uniques": 3,
    "agg_pareto_share": 2,
    "dedup_keep_best": 1,
    "text_language_confusion": 5,
    "graph_kcore_peel": 2,  # final-round plan; earlier rounds checkpointed
    "win_rate_limit_flags": 1,
    "pipeline_mixture_temperature": 1,
    # scan_agg_pushdown_footer: checkpointed 1-row scan, zero shuffles
    "ts_burst_flags": 2,
    "agg_embedding_norm_stats": 2,
    "agg_diff_in_diff": 2,
    "agg_also_bought_top1": 4,
    "pipeline_data_contract_validate": 1,
    "agg_shipping_sla": 1,
    "win_abc_classification": 1,
    "dedup_cluster_size_histogram": 2,  # over checkpointed component output
    "agg_dow_seasonality_index": 5,
    "agg_attribution_first_touch": 1,
    "dedup_cross_source": 2,
    "agg_activity_heatmap": 1,
    "text_source_divergence_jsd": 2,  # final plan over the checkpointed vocab table
    # sql_select_star_except: pure projection, zero shuffles
    # text_nonascii_ratio: pure projection, zero shuffles
    "agg_repeat_purchase": 1,
    # multimodal_image_histogram: Arrow kernel, zero shuffles
    "pipeline_interleave_sources": 2,
    "agg_geo_cell_density": 2,
    # sql_try_arithmetic: pure projection, zero shuffles
    # sim_rerank_rrf / pipeline_rag_chunking / pipeline_chat_format /
    # multimodal_tiled_patches: zero shuffles at sf0.001 (absent = 0)
    # r5: category-snapshot BFS — edge-table distinct per collected
    # branch + final distinct; frontier joins are broadcast semi-joins
    # (no exchange). Depth-bounded, so the ceiling is static.
    "scan_category_snapshot": 4,
}


BASELINE_PATH = pathlib.Path(__file__).resolve().parent.parent / "SHUFFLE_BYTES.json"

#: Gate: measured > max(RATIO x baseline, baseline + SLACK) flags.
BYTES_RATIO = 1.5
BYTES_SLACK = 64 * 1024


def bytes_audit(args) -> None:
    from mediaplaycounts_spark.profile import profile
    from mediaplaycounts_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        "shuffle-bytes-audit",
        extra_conf={
            # The REST metrics need the UI's status store; raise stage
            # retention so a key's own stages are never evicted before
            # its profile reads them.
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
        },
    )
    if spark.sparkContext.uiWebUrl is None:
        print(
            "ERROR: Spark UI disabled (existing session without UI?) — "
            "run in a fresh process",
            file=sys.stderr,
        )
        sys.exit(2)
    qs = entrymod.queries()
    keys = args.keys or sorted(qs)
    baseline: dict[str, int] = {}
    if BASELINE_PATH.exists():
        baseline = json.loads(BASELINE_PATH.read_text())
    measured: dict[str, int] = {}
    flagged: list[str] = []
    print("# SHUFFLE BYTES — per-key shuffle write volume (exchange payload gate)")
    print()
    print(
        f"Executed at `{args.sf}`; gate = max({BYTES_RATIO}x baseline, "
        f"baseline + {BYTES_SLACK // 1024} KiB) against `SHUFFLE_BYTES.json`. "
        "Regenerate: `python tools/plan_audit.py --bytes "
        "--sf /root/testdata/sf0.1`."
    )
    print()
    print("| key | shuffle write | baseline | verdict |")
    print("| --- | --- | --- | --- |")
    for key in keys:
        # The profiled region is the build plus the write, so keys with
        # eager checkpoint_df work at construction time count it too.
        try:
            prof = profile(
                spark,
                key,
                lambda: qs[key](spark, args.sf).write.format("noop").mode("overwrite").save(),
            )
        except Exception as exc:
            print(f"| `{key}` | - | - | not executable: {type(exc).__name__} |")
            continue
        wrote = prof.totals["shuffleWriteBytes"]
        measured[key] = wrote
        base = baseline.get(key)
        if base is None:
            verdict = "new (no baseline)"
        elif wrote > max(BYTES_RATIO * base, base + BYTES_SLACK):
            verdict = f"**FLAG** — exceeds gate ({BYTES_RATIO}x / +64KiB)"
            flagged.append(key)
        else:
            verdict = "ok"
        print(
            f"| `{key}` | {wrote:,} | "
            f"{'-' if base is None else format(base, ',')} | {verdict} |"
        )
    print()
    print(f"Flagged: {len(flagged)}" + (f" — {flagged}" if flagged else ""))
    if args.update_baseline:
        merged = dict(baseline)
        merged.update(measured)
        BASELINE_PATH.write_text(
            json.dumps(dict(sorted(merged.items())), indent=1) + "\n"
        )
        print(f"\nBaseline updated: {BASELINE_PATH.name} ({len(merged)} keys)")
    if flagged:
        sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--bytes", action="store_true", dest="bytes_mode",
                    help="execute keys and gate shuffle WRITE bytes")
    ap.add_argument("--update-baseline", action="store_true",
                    help="with --bytes: write measurements to SHUFFLE_BYTES.json")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    if args.bytes_mode:
        bytes_audit(args)
        return

    from mediaplaycounts_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan-audit")
    qs = entrymod.queries()

    print("# PLAN AUDIT — quadratic joins / Python-row-wise nodes / shuffles")
    print()
    print(f"Audited at `{args.sf}`; regenerate with `python tools/plan_audit.py`.")
    print()
    print(
        "| key | shuffles | max_shuffles | quadratic join "
        "| row-wise Python | verdict |"
    )
    print("| --- | --- | --- | --- | --- | --- |")
    flagged = 0
    for key in args.keys or sorted(qs):
        try:
            df = qs[key](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # streaming-only or env-gated keys
            print(
                f"| `{key}` | - | - | - | - | "
                f"not explainable: {type(exc).__name__} |"
            )
            continue
        shuffles = len(re.findall(r"Arguments: (?:hash|range)partitioning", plan))
        quad = bool(re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan))
        pyrow = "BatchEvalPython" in plan
        ceiling = MAX_SHUFFLES.get(key, 0)
        problems = []
        if (quad or pyrow) and key not in ALLOWED:
            problems.append("quadratic/py-row node")
        if shuffles > ceiling:
            problems.append(f"shuffles {shuffles} > ceiling {ceiling}")
        if problems:
            verdict = f"**FLAG** — {'; '.join(problems)}"
            flagged += 1
        elif quad or pyrow:
            verdict = f"ok — {ALLOWED[key]}"
        else:
            verdict = "ok"
        print(
            f"| `{key}` | {shuffles} | {ceiling} | {'yes' if quad else '-'} |"
            f" {'yes' if pyrow else '-'} | {verdict} |"
        )
    print()
    print(f"Flagged: {flagged}")
    if flagged:
        sys.exit(1)


if __name__ == "__main__":
    main()
