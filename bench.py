"""Benchmark runner (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Each query runs three times, each
run one ``metrics.record``, and reports the min.

Drift rule: the baseline is the newest earlier BENCH_DETAIL at the same sf;
drift is the true median now/prev ratio of the six ANCHORS, clamped at >= 1.
A query slower than prev * drift * 1.25 is flagged with its runs (rising,
spread) and its jobs and compiles next to the baseline's, so a flag shows
whether the job count or the compile count moved.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from cube_builder_spark.metrics import record, warm_python_workers
from cube_builder_spark.queries import all_queries
from cube_builder_spark.session import get_spark

# Headline set: one per operator family — relational joins/aggs, blend
# family, mosaic, dedup/similarity/text, sinks, streaming-analogue and
# composed pipelines at scale. Grows with coverage.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q18_large_orders",
    "q21_sole_return_supplier",
    "r12_rollup_revenue",
    "x_bloom_prune_join",
    "x_zorder_bbox_prune",
    "r6_groupby_collect_timeline",
    "r16_grouping_sets",
    "x_pagerank_trade",
    "x_triangle_count",
    "x_spatial_radius_join",
    "r11_multiway_join",
    "c2_blend_lcf",
    "c3_blend_med",
    "c1_mosaic_first_valid",
    "c11_scene_efficacy",
    "c19_footprint_suite",
    "c21_pixel_trend",
    "c22_gap_fill",
    "c23_pixel_anomaly",
    "c24_temporal_smooth",
    "c25_zonal_stats",
    "c28_focal_stats",
    "x_point_in_polygon",
    "k1_cog_structure",
    "d_minhash_lsh_pairs",
    "d_allpairs_jaccard",
    "m_image_dhash_dups",
    "d_embedding_cosine_dups",
    "d_simhash",
    "d_repeated_spans",
    "d_dup_clusters",
    "a_embedding_dup_clusters",
    "x_incremental_near_dup",
    "a_ann_bruteforce_topk",
    "a_ann_ivf_topk",
    "a_ann_batch_topk",
    "a_ann_pq_topk",
    "a_ann_pq_refine_topk",
    "a_ann_recall_eval",
    "a_hard_negatives",
    "t_quality_score",
    "t_length_quantiles",
    "t_heavy_hitters_cms",
    "t_tfidf_topterms",
    "t_inverted_index",
    "t_repetition_profile",
    "t_lm_doc_likelihood",
    "t_dsir_importance",
    "t_bpe_train",
    "p_decontaminate",
    "p_sequence_pack",
    "p_token_budget_mix",
    "m_media_metadata",
    "e_stream_suite",
    "p_training_data_prep",
    "x_cube_reuse",
    "p_cube_build_e2e",
    "x_snapshot_time_travel",
    "x_snapshot_cdc",
    "x_deletion_vectors",
    "x_compact_roundtrip",
    "p_hash_split_sample",
    # round-9 compute surface (the storage scenarios — expire/WAP/
    # check/SCD2/OCC — stay out: x_deletion_vectors already carries
    # the storage plane's graded bench cost, per the r8 trim guidance)
    "c35_change_matrix",
    "c36_flow_routing",
    "c39_hillshade",
    "c40_cloud_distance",
    "c41_pansharpen",
    "c42_bilinear_upsample",
    "c43_terrain_indexes",
    "c44_bap_composite",
    "e_rfm_segmentation",
    "e_rfm_segmentation_scalable",
    "e_attribution_linear",
    "x_hll_distinct",
    "t_quantile_sketch",
    # round-10 surface (storage scenarios — clone/timestamp-travel —
    # stay out per the r8 trim guidance; x_stream_late_data stays out:
    # e_stream_suite already carries the streaming bench cost and the
    # 4-micro-batch harness is ~4.3s of fixed scenario overhead;
    # e_trajectory_hausdorff_pruned stays out at 16s — its win is
    # recorded as the 110.5 -> 16.1s interleaved A/B in its docstring)
    "r21_recursive_hierarchy",
    "x_kcore_parts",
    "a_ann_bq_topk",
    "a_ann_mmr_rerank",
    "d_fuzzy_join_ed1",
    "e_ewma_daily",
    "e_holt_forecast",
    "x_row_column_policy",
    "x_hll_sliding_window",
    # round-11 surface
    "p_global_shuffle",
    "t_perplexity_buckets",
    "a_hybrid_search_rrf",
    "e_cusum_changepoint",
    "e_kaplan_meier",
    "e_frequent_paths",
    "p_shard_manifest",
    # round-12 surface
    "a_hybrid_rrf_scalable",
    "e_range_frame_spend",
    "e_peak_concurrency",
    "e_lorenz_gini",
    "t_cooccurrence_pmi",
    "e_did_analysis",
    "c47_morans_i",
    "c48_hotspots_gi",
    "c49_local_moran",
    "r22_market_basket",
    "e_cohort_ltv",
    "x_branch_diff",
    "t_ngram_novelty",
    "t_vocab_growth",
    "e_dau_mau_stickiness",
    # round-13 surface
    "a_hybrid_recall_eval",
    "a_cluster_silhouette",
    "e_attribution_shapley",
    "t_bm25_topk",
    "t_term_burstiness",
    "t_phrase_search",
    "r23_skyline_pareto",
    "x_bitmap_index_and",
    "p_systematic_resample",
    "t_keyphrase_rake",
    "x_hits_rank",
    "p_temperature_mix",
    "e_interarrival_profile",
    "a_cluster_purity",
    "c50_semivariogram",
    "e_ols_trend",
    "e_simpson_diversity",
    "a_knn_graph",
    "t_zipf_check",
    "t_textrank",
    "e_window_funnel",
    "e_anomaly_mad",
    "e_benford_digits",
    "x_degree_assortativity",
    "p_dedup_rate_by_source",
    "a_embedding_shift",
    "e_conversion_wilson",
    "e_rolling_p90",
    "e_holt_winters",
    "t_hapax_ratio",
    "a_lsh_plane_recall",
    "a_ivf_balance_report",
    "t_code_detect",
    "d_dedup_savings",
    "e_markov_steady_state",
    "a_pq_distortion_report",
    "d_minhash_calibration",
    "e_acf_daily",
    "t_mattr_diversity",
    "e_activity_streaks",
    "x_key_skew_report",
    "e_dn_retention",
    "d_cluster_size_histogram",
    "p_modality_mix",
    "r24_unpivot_revenue",
    "p_shard_balance",
]

# Scale-scoped additions (round 11): queries whose sf0.1 cost would
# distort the 91-query headline total but that still need a bench row
# a tripwire can diff. e_trajectory_hausdorff_pruned costs 16.1s at
# sf0.1 (itself a measured 6.9x win over the 110.5s exact twin — the
# interleaved A/B in its docstring), so it is benched in the sf0.01
# sidecar: the detail file is sf-keyed and _previous_detail
# only baselines same-sf records, so a regression of the prune
# front-end (whose silent failure mode is "falls back to near-exact
# cost") flags on the next sf0.01 run instead of going undetected.
EXTRA_BY_SF = {
    0.01: ["e_trajectory_hausdorff_pruned"],
}


# Drift anchors: two scan-bound, two shuffle-bound and two Python-worker
# queries, so a host load wave on any one plan family moves the median.
ANCHORS = ["q1_pricing_summary", "q6_forecast_revenue",
           "q18_large_orders", "r6_groupby_collect_timeline",
           "m_media_metadata", "k1_cog_structure"]
RECORD_FIELDS = ("construct_s", "action_s", "construct_jobs", "action_jobs",
                 "compiles")


def _round_files(pattern: str, sf_suffixed: bool = False) -> list[tuple[int, str]]:
    """``(round, path)`` of the files matching ``pattern``, oldest first.
    ``sf_suffixed=False`` matches only the sf0.1 records
    (``..._rN.json``), ``True`` only the sf-suffixed ones
    (``..._rN_sfX.json``), so a local probe never passes as the round's
    sf0.1 record."""
    rx = r"_r(\d+)_sf[\d.]+\.json$" if sf_suffixed else r"_r(\d+)\.json$"
    out = []
    for p in glob.glob(os.path.join(HERE, pattern)):
        m = re.search(rx, p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def _current_round() -> int:
    """BENCH_r{N}.json is written at the END of round N, so while round
    N runs the newest one on disk is N-1."""
    recs = _round_files("BENCH_r*.json")
    return (max(r for r, _ in recs) + 1) if recs else 1


def _previous_detail(sf) -> tuple[dict[str, float], dict[str, dict]]:
    """``(per-query mins, per-query records)`` of the newest
    BENCH_DETAIL from an EARLIER round at the same scale factor (records
    without an sf field are sf0.1); empty dicts when there is none. The
    current round's own file is skipped: every in-round rerun rewrites
    it, so diffing against it would let small regressions ratchet
    through a round unflagged."""
    cur = _current_round()
    paths = [(rnd, p) for rnd, p in
             _round_files("BENCH_DETAIL_r*.json")
             + _round_files("BENCH_DETAIL_r*_sf*.json", sf_suffixed=True)
             if rnd < cur]
    for _rnd, path in sorted(paths, reverse=True):
        try:
            with open(path) as fh:
                rec = json.load(fh)
        except (OSError, ValueError):
            continue
        qs = rec.get("queries") or {}
        if qs and rec.get("sf", 0.1) == sf:
            return ({k: float(v) for k, v in qs.items()},
                    rec.get("records") or {})
    return {}, {}


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def drift_report(timings: dict, prev: dict, all_runs: dict | None = None,
                 records: dict | None = None,
                 prev_records: dict | None = None):
    """``(anchor_rec, movers)`` for this run's per-query mins against
    the baseline's ``prev`` (the rule is in the module docstring);
    ``(None, {})`` without a baseline. ``all_runs`` adds each flag's
    run statistics: a query heating up DURING its own min-of-3
    (``runs_rising``, a large ``runs_spread``) is load arriving, while a
    plan regression shifts all three runs together. ``records`` and
    ``prev_records`` add each flag's jobs and compiles."""
    if not prev:
        return None, {}
    all_runs, records = all_runs or {}, records or {}
    prev_records = prev_records or {}
    ratios = sorted(timings[a] / prev[a] for a in ANCHORS
                    if a in timings and a in prev and prev[a] > 0.02)
    drift = _median(ratios) if ratios else 1.0
    # clamped: calibration can excuse load, never amplify a regression
    drift_c = max(1.0, drift)

    def _flag(n, t):
        flag = {"prev": prev[n], "now": round(t, 3),
                "pct": round(100.0 * (t - prev[n]) / prev[n], 1),
                "norm_pct": round(100.0 * (t / (prev[n] * drift_c) - 1.0), 1)}
        runs = all_runs.get(n)
        if runs and len(runs) >= 2:
            flag["runs"] = [round(r, 3) for r in runs]
            flag["runs_rising"] = all(b > a for a, b in zip(runs, runs[1:]))
            flag["runs_spread"] = round(max(runs) / max(min(runs), 1e-9), 2)
        for key, recs in (("", records), ("prev_", prev_records)):
            rec = recs.get(n)
            if rec:
                flag[key + "jobs"] = rec["construct_jobs"] + rec["action_jobs"]
                flag[key + "compiles"] = rec["compiles"]
        return flag

    movers = {n: _flag(n, t) for n, t in timings.items()
              if n in prev and prev[n] > 0.05 and t > prev[n] * drift_c * 1.25}
    anchor_rec = {
        "anchors": {a: {"prev": prev.get(a), "now": timings.get(a)}
                    for a in ANCHORS},
        "spread": [round(ratios[0], 3), round(ratios[-1], 3)] if ratios else None,
        "drift": round(drift, 3),
        "applied": round(drift_c, 3),
        "n_wave_suspect": sum(1 for m in movers.values() if m.get("runs_rising"))}
    return anchor_rec, movers


def detail_record(timings: dict, all_runs: dict, anchor_rec, movers,
                  sf_val, records: dict | None = None) -> dict:
    """The complete record written to BENCH_DETAIL_r{N}.json. The
    round's BENCH_r{N}.json keeps only a ~2 KB stdout tail of the run,
    so this file, not stdout, is the durable home of the per-query mins, the raw runs, the
    fastest run's ``records`` and every regression flag."""
    total = round(sum(timings.values()), 4)
    return {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "total_cold": round(sum(r[0] for r in all_runs.values()), 4),
        "total_warm": total,
        "worst5": sorted(timings, key=timings.get, reverse=True)[:5],
        "runs_per_query": 3,
        "agg": "min",
        "sf": sf_val,
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "all_runs": all_runs,
        "records": records or {},
        "anchor_drift": anchor_rec,
        "regressions": movers,
    }


def _collect(df):
    df.collect()  # the rows are dropped: only the time counts


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    spark = get_spark("bench")
    queries = all_queries()
    try:
        extra = EXTRA_BY_SF.get(float(sf), [])
    except ValueError:
        extra = []
    names = [n for n in HEADLINE + extra if n in queries]
    # warm the JVM and parquet footers, then the Python workers, so the
    # timings measure the queries
    queries[names[0]](spark, sf_dir).collect()
    warm_python_workers(spark)
    # min-of-3: the first run carries one-off planning/JIT cost, and
    # host CPU-steal waves can multiply any single run
    timings, all_runs, records = {}, {}, {}
    for name in names:
        recs = [record(spark, name, lambda: queries[name](spark, sf_dir),
                       _collect) for _ in range(3)]
        runs = [round(r.construct_s + r.action_s, 4) for r in recs]
        fastest = recs[runs.index(min(runs))]
        timings[name], all_runs[name] = min(runs), runs
        records[name] = {f: round(getattr(fastest, f), 4)
                         for f in RECORD_FIELDS}
    total = round(sum(timings.values()), 4)
    # BENCH_r{N}.json keeps only a ~2 KB stdout TAIL: the diagnostics go
    # on earlier lines and the compact contract line prints LAST.
    print("ALL_RUNS " + json.dumps(all_runs))
    prev, prev_records = _previous_detail(sf_val)
    anchor_rec, movers = drift_report(timings, prev, all_runs, records,
                                      prev_records)
    if prev:
        print("ANCHOR_DRIFT " + json.dumps(anchor_rec, separators=(",", ":")))
        print("REGRESSIONS " + json.dumps(movers, separators=(",", ":")))
    sys.stdout.flush()
    rnd = _current_round()
    # scales other than sf0.1 get an sf-suffixed name
    detail_name = (f"BENCH_DETAIL_r{rnd:02d}.json" if sf_val == 0.1
                   else f"BENCH_DETAIL_r{rnd:02d}_sf{sf}.json")
    detail = detail_record(timings, all_runs, anchor_rec, movers, sf_val,
                           records)
    worst = detail["worst5"]
    try:
        with open(os.path.join(HERE, detail_name), "w") as fh:
            json.dump(detail, fh, separators=(",", ":"))
            fh.write("\n")
    except OSError as exc:  # bench must still report if the repo is RO
        print(f"DETAIL_WRITE_FAILED {exc}")
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "total_cold": detail["total_cold"],
        "total_warm": total,
        "worst5": {w: round(timings[w], 3) for w in worst},
        "n_queries": len(timings),
        "runs_per_query": 3,
        "agg": "min",
        "sf": sf_val,
        "anchor_drift": (anchor_rec or {}).get("applied"),
        "n_regressions": len(movers),
        "detail": detail_name,
        "queries": {w: round(timings[w], 3) for w in worst},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
