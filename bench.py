"""Headline benchmark (driver contract).

Runs the HEADLINE queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on the engine session and prints ONE JSON line
holding only CONTRACT_LINE_FIELDS; the full result is written to
BENCH_LATEST.json next to this file.

Each query is forced end-to-end with a noop write (computes every row,
returns nothing to the driver), so no collect overhead enters a timing.

Scheduling is breadth-first: after a warm-up at sf0.001, every HEADLINE
entry gets one timed pass before any entry gets a second, and leftover
budget buys min-merge extra passes. A degraded run drops passes, never
queries; `pass_counts` and `coverage` show what each entry got. An
entry that lands over 2x its time in the newest committed
BENCH_quiet_r*.json gets a priority re-pass, because a stall inside one
entry is invisible to a host-level measurement.

Contention is measured, not inferred. Around every timed pass the bench
reads the host's busy CPU (/proc/stat, steal included) and the CPU of
its own process tree (this process, the driver JVM, the Python
workers). Busy minus own, over ncpu x wall, is the share of the machine
that other processes and other VMs took during the pass
(`external_share`); a pass is quiet when that share is at most
EXTERNAL_SHARE_BOUND.

- `contended` is true iff some shipped timing has no quiet pass, or
  nothing was timed; `storm_tainted_entries` lists those entries. Extra
  passes go first to entries without a quiet pass.
- `value_core` sums the frozen CORE_32 set (the round-4 membership), so
  it stays comparable while HEADLINE grows; `value` is comparable only
  between runs of the same HEADLINE.
- `sentinel_floor_ratio` is this run's counter_hourly time over
  SENTINEL_R7_FLOOR_S, a host-speed normaliser for `value` and
  `value_core`.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from numalogic_prometheus_spark import plans
from numalogic_prometheus_spark.session import get_session

# Headline set: one per operator family (SURVEY.md §2C).
HEADLINE = [
    "counter_hourly",             # discipline agg scan
    "gauge_latest_per_user",      # max_by agg
    "summary_by_type",            # exact percentiles
    "histogram_cumulative",       # conditional bucket agg
    "info_latest_per_user",       # window rank
    "agg_pricing_summary",        # TPC-H Q1 analog
    "join_fact_fact_revenue",     # shuffle fact-fact join
    "join_broadcast_enrich",      # broadcast dim join
    "join_asof_last_error",       # as-of (union+window)
    "win_topk_per_group",         # per-group top-k
    "agg_window_vectors",         # B2 window assembly
    "promql_histogram_quantile_p90",  # bucket interpolation
    "ml_ensemble_unified",        # scaler+ensemble+unified expressions
    "dedup_shingle_minhash_pairs",    # MinHash LSH near-dup
    "vec_ann_signbucket_topk",    # LSH-bucketed ANN (fixture config)
    "vec_ann_multiband_topk",     # OR-of-bands ANN (scale config)
    "text_stats",                 # map-only text analysis
    "pipeline_anomaly_scores",    # composed B2-B10 anomaly pipeline
    "tpch_q5_region_volume",      # six-table join under AQE
    "tpch_q18_large_volume_customers",  # HAVING-driven semi join
    "vec_ivf_topk",               # IVF coarse-quantizer ANN
    "ts_step_resample",           # join-free grid alignment
    "text_ngram_jaccard_pairs",   # exact n-gram Jaccard (blocked)
    "tpch_q8_market_share",       # widest star join (7 tables)
    "tpch_q21_sole_late_supplier",    # semi+anti join on one key
    "promql_vector_share_group_left", # PromQL vector matching
    "promql_avg_over_time",       # sliding range frame per series
    "rollup_daily_from_hourly",   # two-level re-aggregation
    "vec_ann_tuned_topk",         # recall-tuned LSH config
    "vec_int8_quantized_topk",    # compressed-scan candidates + re-rank
    "dedup_substring_spans",      # span-run dedup (single-explode)
    "text_contamination_eval_overlap",  # broadcast eval-leak check
    "ts_ewma_irregular",          # segmented-scan linear recurrence
    "ts_holt_winters_level_trend",    # segmented 2-D recurrence
    "promql_rate_extrapolated",   # Prometheus-exact rate extrapolation
    "promql_alert_firing",        # for-duration alert rule evaluation
    "dedup_incremental_batch",    # new-batch dedup vs broadcast index
    "promql_mad_over_time",       # nested median over per-bucket arrays
    "profile_column_stats",       # one-scan multi-distinct column profile
    "sample_split_by_cluster",    # leakage-safe split over BSP components
    "promql_quantile_over_time_sliding",  # grouped-bucket order statistics
    "vec_ann_filtered_topk",      # metadata-filtered similarity search
    "vec_ivf_filtered_topk",      # filter×IVF composed retrieval (r9)
    "sample_split_snapshot_fed",  # snapshot-write + marker-gated read (r9)
    "layout_zorder_files",        # Morton clustering census (r9)
    "layout_compaction_bins",     # running-sum compaction plan (r9)
    "profile_key_skew",           # pre-shuffle heavy-hitter top-k (r9)
    "promql_histogram_fraction",  # bucket-CDF interpolation (r9)
    "promql_mad_sliding_dense",   # Arrow window-matrix kernel (r9)
    "vec_ann_incremental_batch",  # new-batch ANN vs IVF corpus index (r9)
    "promql_at_modifier",         # @-pinned instant vector, one scan (r9)
    "ts_level_shift_detect",      # prefix-sum changepoint rewrite (r9)
    "promql_double_exponential_smoothing",  # JVM aggregate-fold recurrence (r9)
    "promql_native_histogram_buckets",      # codegen array-filter buckets (r9)
    "promql_native_histogram_stddev",       # exact-integer moment stats (r9)
    "text_chunk_overlap",                   # map-side chunk explode (r9)
    "promql_native_histogram_rate",         # bucket-wise reset-corrected rate (r10)
    "promql_native_histogram_rate_quantile",  # quantile-of-rate composition (r10)
    "vec_ivf_int8_topk",                    # IVF-PQ-lite composed retrieval (r10)
    "text_chunk_contamination",             # chunk-hash eval-leak join (r10)
    # r11 (VERDICT r10 #7): every entry whose SPARK-side steady-state
    # exceeds ~2 s at sf0.1 is benched; sweep-log outliers below 2 s
    # spark-side are documented in HEADLINE_EXCLUDED instead.
    "dedup_cluster_components",   # BSP pointer-doubling fixpoint (most expensive entry)
    "join_interval_overlap",      # raw interval-overlap theta join
    "promql_quantile_sliding_dense",  # dense sliding order statistics
    "dedup_semantic_survivors",   # embedding components + survivor join
    "pipeline_curation_verdicts", # composed curation funnel
    "dedup_simhash_pairs",        # simhash hamming-ball pairing
    "dedup_minhash_lsh_pairs",    # banded minhash pair generation
    "agg_approx_distinct",        # KMV-oracle approx distinct
    "text_semantic_contamination",  # IVF-probed train-vs-eval paraphrase flag (r11)
    "promql_native_histogram_fraction_rate",  # SLO burn fraction-of-rate (r11, queued r12)
    "promql_burn_rate_multiwindow",  # SRE multiwindow burn-rate alert (r11, queued r12)
    "vec_pq_subvector_topk",         # PQ m=4 candidates + exact re-rank (r11, queued r12)
    "vec_matryoshka_prefix_topk",    # MRL prefix-scan candidates (r11, queued r12)
    "promql_native_histogram_rate_quantile_agg",  # fleet sum-then-quantile (r11, queued r12)
    "multimodal_audio_wav_features",  # real WAV codec round-trip (r11, queued r12)
    "multimodal_audio_frame_energy",  # frame-grain decode expansion (r11, queued r12)
    "multimodal_image_png_features",  # real PNG codec round-trip (r12)
    "multimodal_image_row_stats",     # scanline-grain decode expansion (r12)
    "multimodal_video_apng_frames",   # real APNG frame demux (r12)
    "multimodal_image_gif_features",  # real GIF/LZW palette decode (r13)
    "multimodal_image_jpeg_coefficients",  # real JFIF entropy decode (r13)
    "multimodal_video_avi_mjpeg_frames",  # real RIFF/MJPEG demux (late r13)
    "dedup_cdc_chunk_pairs",          # CDC chunk pairing (oracle-backed r12)
    "multimodal_decode_features",     # unified real-codec dispatch (r14)
    "multimodal_frame_sample",        # sampled real-container demux (r14)
    "multimodal_image_resize_features",  # real NN resize over decode (late r14)
    "quality_repetition_stats",       # windowed n-gram repetition (2.2 s spark-side, r14)
]

# VERDICT r10 #7: entries whose committed sf0.1 SWEEP time exceeds the
# 2 s threshold but which are deliberately NOT in HEADLINE, with the
# measured reason. tests/test_bench_contract.py asserts this list plus
# HEADLINE exhaustively covers every >2 s sweep entry, so a new
# expensive registration cannot silently skip the bench.
_SWEEP_DOMINATED = (
    "spark-side steady-state <2 s at sf0.1 (measured r11); the sweep "
    "line also times the DuckDB oracle + full-result hash compare"
)
_STREAM_HARNESS = (
    "streaming entry: sweep/bench wall time is micro-batch trigger and "
    "driver overhead, not plan cost; the micro-batch plans reuse batch "
    "operators that ARE benched, and streaming correctness has native "
    "tests"
)
HEADLINE_EXCLUDED = {
    "stream_counter_rate": _STREAM_HARNESS,
    "stream_stream_join": _STREAM_HARNESS,
    "stream_static_join": _STREAM_HARNESS,
    "stream_sliding_counts": _STREAM_HARNESS,
    "stream_session_windows": _STREAM_HARNESS,
    "stream_tumbling_counts": _STREAM_HARNESS,
    "stream_topk_event_types": _STREAM_HARNESS,
    "stream_native_histogram_rate": _STREAM_HARNESS,
    "stream_burn_rate_alert": _STREAM_HARNESS,
    "stream_semantic_contamination": _STREAM_HARNESS,
    "scalar_datetime_funcs": _SWEEP_DOMINATED,
    "join_interval_bucketed": _SWEEP_DOMINATED,
    # r13: 2.2s sweep line on a loaded host; spark-side min-of-3 is
    # 1.10s at sf0.1 (the DuckDB 4-table correlated-min oracle + host
    # noise dominate the sweep line)
    "tpch_q2_min_cost_supplier": _SWEEP_DOMINATED,
    "filter_predicates": _SWEEP_DOMINATED,
    "ts_sessionize_gap": _SWEEP_DOMINATED,
    "ml_static_threshold": _SWEEP_DOMINATED,
    "promql_stdvar_over_time": _SWEEP_DOMINATED,
    "ml_quantile_threshold": _SWEEP_DOMINATED,
    "promql_last_over_time": _SWEEP_DOMINATED,
    "scd2_state_history": _SWEEP_DOMINATED,
    "join_full_outer_keys": _SWEEP_DOMINATED,
    "ml_minmax_scaled": _SWEEP_DOMINATED,
    "promql_max_over_time": _SWEEP_DOMINATED,
    "scd2_event_type_intervals": _SWEEP_DOMINATED,
    "ml_tanh_scaled": _SWEEP_DOMINATED,
    "ml_zscore_scaled": _SWEEP_DOMINATED,
    "promql_stddev_over_time": _SWEEP_DOMINATED,
    "win_lag_rate_reset": _SWEEP_DOMINATED,
    "promql_min_over_time": _SWEEP_DOMINATED,
    "win_sliding_range_1h": _SWEEP_DOMINATED,
    "promql_count_over_time": _SWEEP_DOMINATED,
    "ml_seasonal_zscore": _SWEEP_DOMINATED,
    "promql_sum_over_time": _SWEEP_DOMINATED,
    "scalar_nan_inf_clean": _SWEEP_DOMINATED,
    "udf_scalar_pandas_tanh": _SWEEP_DOMINATED,
    "dedup_minhash_signatures": _SWEEP_DOMINATED,
    "join_band_value_tiers": _SWEEP_DOMINATED,
    "promql_subquery_max_rate": _SWEEP_DOMINATED,
    "text_tfidf_topterms": _SWEEP_DOMINATED,
    "project_computed": _SWEEP_DOMINATED,
    "promql_math_functions": _SWEEP_DOMINATED,
    "join_salted_skew": _SWEEP_DOMINATED,
    "promql_info_enrich": _SWEEP_DOMINATED,
    "agg_hll_mergeable_daily": _SWEEP_DOMINATED,
    "scalar_string_funcs": _SWEEP_DOMINATED,
    # r12 late registration: spark-side 1.75 s min-of-3 at sf0.1; the
    # sweep line (2.5 s) is dominated by the oracle's token self-join
    "text_bigram_lm_score": _SWEEP_DOMINATED,
    # r14: sweep lines crossed 2 s on the refreshed quiet log but the
    # spark-side min-of-3 at sf0.1 is far under (0.30-1.30 s measured
    # this round) — the DuckDB oracle + full-result hash compare
    # dominate those lines
    "agg_unpivot_part_attrs": _SWEEP_DOMINATED,
    "exposition_all_families": _SWEEP_DOMINATED,
    "promql_ts_of_over_time": _SWEEP_DOMINATED,
    "ts_linear_interpolate": _SWEEP_DOMINATED,
    "win_first_last_nth": _SWEEP_DOMINATED,
    "win_rank_variants": _SWEEP_DOMINATED,
    # r15 oracle conversion (was rows-only): the 16.7 s sf0.1 sweep
    # line is the DuckDB minmax twin + full-result hash compare;
    # spark-side min-of-3 is 1.90 s at sf0.1 (MLlib fit agg +
    # transform), measured this round
    "mllib_minmax_scaler": _SWEEP_DOMINATED,
    # r16: the regenerated sf0.1 sweep ran on a contended window
    # (1074 s total vs r15's 695 s on identical oracle code) and
    # pushed these 12 lines over 2 s. Spark-side re-measure that
    # round: ten at 0.35-1.7 s min-of-3; the two that first read
    # over (profile_drift_halves 3.2, tpch_q9 4.3) re-measured
    # 1.73 / 0.98 s against an interleaved sentinel at 2.3x floor.
    # r17 (ADVICE r16): dedicated re-audit artifact committed —
    # excluded_audit_r17.py -> EXCLUDED_AUDIT_r17.json, interleaved
    # sentinel + min-of-3 each, window floor ratio stamped in. All 12
    # measured 0.36-1.97 s even on a 2.57x-floor window (an UPPER
    # bound — a quiet window only lowers them), so the exclusions
    # stand a fortiori; should_promote came back empty. Re-run the
    # script whenever these lines are questioned.
    "profile_drift_halves": _SWEEP_DOMINATED,
    "promql_comparison_bool": _SWEEP_DOMINATED,
    "promql_increase_total": _SWEEP_DOMINATED,
    "promql_resets_changes": _SWEEP_DOMINATED,
    "promql_scalar_binop": _SWEEP_DOMINATED,
    "promql_sort_by_label": _SWEEP_DOMINATED,
    "subquery_scalar_above_avg": _SWEEP_DOMINATED,
    "text_bm25_topk": _SWEEP_DOMINATED,
    "text_boilerplate_segments": _SWEEP_DOMINATED,
    "text_quality_by_source": _SWEEP_DOMINATED,
    "text_simhash_signatures": _SWEEP_DOMINATED,
    "tpch_q9_product_profit": _SWEEP_DOMINATED,
    # r17: the regenerated sf0.1 sweep log (1157 s total, captured on
    # a loaded window between bench runs) pushed nine more lines over
    # 2 s. Spark-side re-measure (EXCLUDED_AUDIT_r17b.json, min-of-3
    # interleaved sentinel, floor ratio 2.80 stamped — UPPER bounds):
    # all nine at 0.34-1.18 s, the sweep delta is the DuckDB oracle +
    # full-result hash compare + window load.
    "dedup_exact_survivors": _SWEEP_DOMINATED,
    "pipeline_text_cleaning": _SWEEP_DOMINATED,
    "promql_native_histogram_quantile": _SWEEP_DOMINATED,
    "quality_gopher_verdict": _SWEEP_DOMINATED,
    "registry_latest_artifact": _SWEEP_DOMINATED,
    "rollup_quantile_sketch_daily": _SWEEP_DOMINATED,
    "subquery_correlated_max_per_cust": _SWEEP_DOMINATED,
    "tpch_q12_late_shipment_priority": _SWEEP_DOMINATED,
    "vec_cosine_topk": _SWEEP_DOMINATED,
}


# Isolated min-of-N floors for entries with measured one-shot warm-up
# noise (VERDICT r11 #2 / missing #3): promql_mad_over_time sampled
# 0.62 s and 1.34 s hours apart on identical code in the same quiet
# harness; a 12-pass isolated decay run (SCALE.md round-11 drift
# adjudication) pinned its steady-state floor. The floor ships INSIDE
# the artifact so a noisy one-shot sample stops generating cross-round
# adjudication work — compare drift suspects against their floor, not
# against another one-shot.
NOISY_FLOORS = {
    "promql_mad_over_time": 0.725,  # SCALE.md:765 (r11 isolated min-of-12)
    # r15 isolated min-of-12 on a quiet window (SCALE.md round-15 drift
    # adjudication): total is BUILD-dominated at fixture scale (0.6-1.1s
    # Python-DSL+analysis vs 0.53s exec at sf0.1), so it rides the build
    # sentinel's epoch, not the serial sentinel's — compare one-shot
    # samples against this floor before flagging drift
    "text_semantic_contamination": 0.796,
}

def _load_quiet_reference() -> dict:
    """Per-entry quiet floors from the NEWEST committed
    BENCH_quiet_r*.json next to this file (self-maintaining across
    rounds: each round's committed quiet twin becomes the next round's
    outlier reference). Returns {} when none exists — the outlier
    re-pass then simply never fires."""
    import glob as _glob
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    best, best_round = None, -1
    for path in _glob.glob(os.path.join(here, "BENCH_quiet_r*.json")):
        m = _re.search(r"BENCH_quiet_r(\d+)", os.path.basename(path))
        if m and int(m.group(1)) > best_round:
            best, best_round = path, int(m.group(1))
    if best is None:
        return {}
    try:
        with open(best) as fh:
            ref = json.load(fh).get("queries", {})
    except (OSError, ValueError):
        return {}
    ref = dict(ref)
    ref["_file"] = os.path.basename(best)
    return ref


# FROZEN cross-round core set (VERDICT r14 #4): exactly the 32 queries
# of the round-4 artifact (BENCH_r04.json), the set the vs-baseline
# ratio has used since r4. Membership never changes — `value_core` sums
# these so the driver has a round-comparable headline even as HEADLINE
# grows. Do NOT add entries here; new work lands in HEADLINE only.
CORE_32 = (
    "agg_pricing_summary", "agg_window_vectors", "counter_hourly",
    "dedup_shingle_minhash_pairs", "dedup_substring_spans",
    "gauge_latest_per_user", "histogram_cumulative", "info_latest_per_user",
    "join_asof_last_error", "join_broadcast_enrich", "join_fact_fact_revenue",
    "ml_ensemble_unified", "pipeline_anomaly_scores", "promql_avg_over_time",
    "promql_histogram_quantile_p90", "promql_vector_share_group_left",
    "rollup_daily_from_hourly", "summary_by_type",
    "text_contamination_eval_overlap", "text_ngram_jaccard_pairs",
    "text_stats", "tpch_q18_large_volume_customers",
    "tpch_q21_sole_late_supplier", "tpch_q5_region_volume",
    "tpch_q8_market_share", "ts_step_resample", "vec_ann_multiband_topk",
    "vec_ann_signbucket_topk", "vec_ann_tuned_topk",
    "vec_int8_quantized_topk", "vec_ivf_topk", "win_topk_per_group",
)

# counter_hourly's fastest time on a quiet window at sf0.1 (quiet-r13
# measured 0.1399 s). sentinel_floor_ratio = this run's counter_hourly
# min / this constant; counter_hourly passes clear the cache first.
SENTINEL_R7_FLOOR_S = 0.140

# A pass is quiet when processes outside the bench's tree (and other
# VMs, through steal) took at most this share of all CPUs during it.
# On a 4-core VM: idle host ~0.01, nproc busy loops inside the tree
# ~0.01, nproc busy loops outside it ~1.0.
EXTERNAL_SHARE_BOUND = 0.10

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_sample() -> tuple[float, float]:
    """(host busy CPU seconds, CPU seconds of this process and all of
    its descendants). Host busy is user+nice+system+irq+softirq+steal
    from /proc/stat; the tree sums utime+stime+cutime+cstime, so
    children reaped inside the tree stay counted."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    host = f[0] + f[1] + f[2] + f[5] + f[6] + f[7]
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # comm may hold spaces or parens; fields resume after ")"
                rest = fh.read().rpartition(")")[2].split()
        except OSError:
            continue  # exited between listdir and open
        children.setdefault(int(rest[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in rest[11:15])
    own, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        own += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return host / _CLK_TCK, own / _CLK_TCK


def external_share(
    a: tuple[float, float], b: tuple[float, float], wall_s: float
) -> float:
    """Share of all CPUs used outside this process tree between the
    cpu_sample()s a and b. The 0.25 s wall floor keeps the 10 ms tick
    resolution from flagging sub-second passes."""
    other = (b[0] - a[0]) - (b[1] - a[1])
    return other / ((os.cpu_count() or 1) * max(wall_s, 0.25))


# stdout-contract whitelist (VERDICT r17 #2 / r18 #2): the driver
# recovers the bench from a bounded stdout tail that truncated r16's
# line mid-JSON when the full provenance dict (~12 kB) was printed.
# ONLY these fields may reach stdout; everything else lives in the
# BENCH_LATEST.json artifact. `queries` is contract-mandated and its
# 87 names alone are ~2.9 kB, so the line cannot be made arbitrarily
# small — tests/test_bench_contract.py pins the whitelist and a size
# ceiling so provenance can never creep back in.
CONTRACT_LINE_FIELDS = (
    "metric",
    "value",
    "unit",
    "queries",
    "sf",
    "value_core",
    "contended",
    "artifact",
)


def contract_line(out: dict) -> str:
    """The ONE printed stdout line: driver-contract fields + three tiny
    provenance pointers, nothing else."""
    printed = {k: out[k] for k in CONTRACT_LINE_FIELDS if k in out}
    return json.dumps(printed, separators=(",", ":"))


def _timed_save(spark, df_fn, limit_s: float) -> tuple[str, str]:
    """Run ``df_fn().write...save()`` in a thread with a wall ceiling.
    Returns ("ok"|"err"|"timeout", detail). On timeout the Spark jobs
    are cancelled so the session stays usable for the next query."""
    result: dict = {}

    def _run():
        try:
            df_fn().write.mode("overwrite").format("noop").save()
            result["ok"] = True
        except Exception as exc:  # noqa: BLE001
            result["err"] = f"{type(exc).__name__}: {exc}"[:500]

    th = threading.Thread(target=_run, daemon=True)
    th.start()
    th.join(limit_s)
    if th.is_alive():
        spark.sparkContext.cancelAllJobs()
        th.join(30)
        return "timeout", f"pass exceeded {limit_s:.0f}s (jobs cancelled)"
    if "err" in result:
        return "err", result["err"]
    return "ok", ""


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # 12g, NOT 64g: a 64g heap on this VM triggers multi-minute GC/memory
    # stalls mid-run (observed: hash-heavy stages 40× slower, whole runs
    # timing out); 12g fits every sf0.1 query with headroom and the full
    # 36-query set completes in ~38s where the 64g runs died.
    os.environ.setdefault("SPARK_DRIVER_MEM", "12g")
    # Wall-clock budget: the harness running this prints nothing if we
    # exceed its timeout, so degrade (fewer warmups/passes) rather than
    # die. Budget < any plausible external timeout.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "420"))
    t_start = time.perf_counter()

    spark = get_session(app_name="bench")

    queries = plans.all_queries()
    names = [n for n in HEADLINE if n in queries]

    # Warm the JVM (codegen, shuffle, agg paths) + parquet footers once so
    # per-query times measure the plan, not session/JIT startup.
    t_warm0 = time.perf_counter()
    for t in ("events", "lineitem"):
        # ceilinged like the plan warms: on a storming epoch an
        # unbounded table warm could blow through the 10% cap below
        # before the plan loop even starts (r15 self-review)
        def _tbl_warm(t=t):
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            return df.groupBy(df.columns[0]).count()

        # budget-derived like the plan-warm cap, so the two table warms
        # cannot eat a double-digit share of a small budget on a
        # storming epoch (r15 second review: a fixed 15 s ceiling was
        # up to 17% of a 180 s budget before the plan loop started)
        _timed_save(spark, _tbl_warm, min(15.0, 0.05 * budget_s))
    # Warm headline PLANS at the tiniest scale factor: Janino compilation
    # of the large (partly interpreted) expression trees costs whole
    # seconds per novel plan shape. Capped at 10% of budget (VERDICT r14
    # #6 — the old 30% cap ate 126 s on a slow epoch before the first
    # timed pass; breadth-first pass 1 doubles as warmup under min-merge
    # for anything not reached here). The walk is in REVERSE headline
    # order: extras are cheapest-first, so the expensive tail gets the
    # fewest min-merge passes and benefits most from having its JIT
    # absorbed outside the timed window, while the cheap prefix reaches
    # 3 passes and min() discards its pass-1 JIT anyway.
    n_warmed = 0
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir.rstrip("/"):
        for name in reversed(names):
            # the ceiling bounds how far one plan can overshoot the
            # cap, so leave it as headroom below the 10% line. The 10%
            # is an APPROXIMATE bound, not exact (ADVICE r15): a warm
            # pass that times out spends its 10 s ceiling plus up to
            # 30 s of cancel-join inside _timed_save, and the two
            # ceilinged table warms above accrue to t_warm0 too — on a
            # storming epoch the measured warmup_s can exceed the 10%
            # line by those allowances. warmup_s in the artifact
            # records what actually happened.
            if time.perf_counter() - t_warm0 > 0.10 * budget_s - 10.0:
                break
            # warmup is best-effort; errors/timeouts surface in the
            # timed pass
            _timed_save(
                spark, lambda n=name: queries[n](spark, warm_dir), 10.0
            )
            n_warmed += 1
    warmup_s = round(time.perf_counter() - t_warm0, 2)

    loadavg_start = os.getloadavg()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # external share of every landed pass, in pass order
    pass_shares: dict[str, list[float]] = {n: [] for n in names}
    # external share of the pass that produced each shipped min
    min_pass_share: dict[str, float] = {}
    n_attempts = 0

    # bounded overrun allowance for pass 1, the timeout retry and the
    # outlier re-pass: the budget itself sits well under any external
    # timeout, so coverage may spend into the allowance before any entry
    # is skipped
    RETRY_OVERRUN_S = 90.0
    retry_budget = budget_s + RETRY_OVERRUN_S

    def _quiet(name: str) -> bool:
        return any(s <= EXTERNAL_SHARE_BOUND for s in pass_shares[name])

    def _one_pass(name: str, ceiling: float) -> None:
        """One timed end-to-end pass of `name`, min-merged into
        timings. A later failure never erases an earlier number; an
        error is recorded only while the entry has no timing."""
        nonlocal n_attempts
        # clear BEFORE each pass: queries that self-materialize with
        # .cache()/localCheckpoint must pay their full cost every pass
        spark.catalog.clearCache()
        # py4j wrappers for dead plans hold JVM references; collecting
        # lets the ContextCleaner drop checkpoint blocks the trimmed
        # status store has released (session.py retainedExecutions
        # note). ~10 ms every 5 passes.
        if n_attempts % 5 == 0:
            gc.collect()
        n_attempts += 1
        before = cpu_sample()
        start = time.perf_counter()
        status, detail = _timed_save(
            spark, lambda: queries[name](spark, sf_dir), ceiling
        )
        took = time.perf_counter() - start
        share = round(external_share(before, cpu_sample(), took), 3)
        if status != "ok":
            if name not in timings:
                errors[name] = detail
            return
        pass_shares[name].append(share)
        if took < timings.get(name, float("inf")):
            min_pass_share[name] = share
        timings[name] = round(min(timings.get(name, float("inf")), took), 4)
        errors.pop(name, None)

    # PASS 1 — breadth-first coverage: every headline entry gets one
    # timed pass before any entry gets a second, so a degraded run drops
    # passes, never queries. Pass 1 may spend into the overrun allowance
    # before skipping, and each skipped entry says so. The per-pass
    # ceiling keeps a single hung query from consuming the run.
    for name in names:
        remaining = retry_budget - (time.perf_counter() - t_start)
        if remaining <= 0:
            errors[name] = "skipped: wall budget + overrun exhausted"
            continue
        _one_pass(name, max(30.0, min(120.0, remaining)))

    # PASSES 2+ — min-merge extras until the base budget is spent; the
    # overrun allowance is left to the timeout retry and the outlier
    # re-pass. Entries with no quiet pass yet go first, then cheapest
    # first: cheap entries buy the most noise reduction per second, and
    # the expensive tail was warmed first (reverse-order warmup) so its
    # single pass is already steady-state. Each round grants at most one
    # extra pass per entry, so extras stay breadth-fair.
    MAX_PASSES = 5
    for _ in range(MAX_PASSES - 1):
        todo = sorted(
            (
                n
                for n in names
                if n in timings and len(pass_shares[n]) < MAX_PASSES
            ),
            key=lambda n: (_quiet(n), timings[n]),
        )
        for name in todo:
            remaining = budget_s - (time.perf_counter() - t_start)
            if remaining <= 0:
                break
            _one_pass(name, max(30.0, min(120.0, remaining)))

    # Second chance: pass timeouts here are usually transient external
    # CPU-contention storms (observed: hash-heavy stages slow 30×+ for
    # minutes, then recover). If the overrun allowance remains, retry
    # each timed-out query once — a storm that has passed turns an
    # error into a number.
    for name in [n for n, e in errors.items() if "exceeded" in e]:
        remaining = retry_budget - (time.perf_counter() - t_start)
        if remaining < 60:
            break
        _one_pass(name, min(120.0, remaining))

    # OUTLIER RE-PASS vs the committed quiet reference: an entry-level
    # stall (e.g. a Python-worker spawn squall) is invisible to a host
    # measurement, and a stalled pass-1 min self-reinforces: the entry
    # now looks expensive, so the cheapest-first extras never reach it.
    # Compare each timing against the newest committed
    # BENCH_quiet_r*.json and give the worst offenders a priority
    # min-merge re-pass. Min-merge only tightens; a genuine regression
    # stays visible in outlier_repass.
    quiet_ref = _load_quiet_reference()
    outlier_repass: dict = {"reference": quiet_ref.get("_file"), "repassed": []}
    if quiet_ref:
        outliers = sorted(
            (
                n
                for n in timings
                if n in quiet_ref
                # the +0.5 s absolute guard keeps sub-second noise from
                # churning re-passes
                and timings[n] > 2.0 * quiet_ref[n]
                and timings[n] - quiet_ref[n] > 0.5
            ),
            key=lambda n: quiet_ref[n] - timings[n],  # biggest delta first
        )[:12]
        for name in outliers:
            remaining = retry_budget - (time.perf_counter() - t_start)
            if remaining < 45:
                break
            before = timings[name]
            _one_pass(name, min(60.0, remaining))
            outlier_repass["repassed"].append(
                {"name": name, "before": before, "after": timings[name]}
            )

    tainted = sorted(n for n in timings if not _quiet(n))
    sentinel_s = timings.get("counter_hourly")
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "errors": errors,
        "budget_s": budget_s,
        "warmup_s": warmup_s,
        "n_warmed": n_warmed,
        "pass_counts": {n: len(s) for n, s in pass_shares.items()},
        "coverage": f"{len(timings)}/{len(names)}",
        "value_core": round(
            sum(timings[n] for n in CORE_32 if n in timings), 4
        ),
        "core_set": f"{sum(1 for n in CORE_32 if n in timings)}"
        f"/{len(CORE_32)}",
        "sentinel_floor_ratio": (
            round(sentinel_s / SENTINEL_R7_FLOOR_S, 3) if sentinel_s else None
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # true iff some shipped timing was never measured on a quiet
        # pass; an empty window is contended by definition
        "contended": bool(tainted) or not timings,
        "storm_tainted_entries": tainted,
        "external_share_bound": EXTERNAL_SHARE_BOUND,
        "min_pass_share": min_pass_share,
        "pass_shares": pass_shares,
        "outlier_repass": outlier_repass,
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # isolated steady-state floors for known warm-up-noisy entries
        # (see NOISY_FLOORS): compare these entries' one-shot samples
        # against the floor before flagging drift
        "noisy_floors": NOISY_FLOORS,
        "artifact": "BENCH_LATEST.json",
    }
    # The driver recovers the bench from a bounded stdout tail, which
    # has truncated large lines before. Write the full result to a
    # sidecar so per-query numbers never depend on stdout capture, then
    # print ONLY the contract-whitelist line.
    try:
        artifact_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LATEST.json"
        )
        with open(artifact_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the printed line is still complete
    print(contract_line(out))


if __name__ == "__main__":
    main()
