#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers every engine subsystem: scan/filter/agg (the
reference's lineage), joins/windows/top-k (relational closure), streaming
windows, and the LLM-data ops. Deliberately EXCLUDED: embedded-Derby sinks
(stream_upsert, stream_cdc_deletes — they time a Derby target; with the
replica's key index they take ~16 s and ~6 s at sf0.1 on 4 vCPUs, the
first including a cold session, and perfbench's cdc_apply workload times
that path), the quadratic exact verifiers (dedup_ngram,
text_containment — ground truth for the banded/blocked paths, not a
production shape), and the Python-UDF API demos (udf_* — they measure the
Arrow transfer lane the docstrings already cost out). Each query is fully materialized via a
count() action (no driver-side row transfer inflating the numbers).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cpt_database_sync_spark.plans.registry import all_queries  # noqa: E402
from cpt_database_sync_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "scan_project",
    "filter_pushdown",
    "agg_hash",
    "agg_distinct",
    "join_inner",
    "join_left",
    "window_rank",
    "window_frame",
    "sort_limit",
    "rollup_cube",
    "scalar_funcs",
    "semi_structured",
    "stream_tumbling",
    "stream_session",
    "stream_join",
    "dedup_exact",
    "dedup_minhash",
    "text_stats",
    "token_count",
    "fingerprint",
    "sim_topk",
    "sim_ann_ivf",
    "multimodal_meta",
    "join_skew_salted",
    "merge_upsert",
    "explode_wordcount",
    "corpus_sample",
    "sql_frontend",
    "contamination_check",
    "quality_repetition",
    "pii_scrub",
    "vector_centroids",
    "sessionize",
    "funnel",
    "retention",
    "cdc_compact",
    "window_range_frame",
    "pipeline_e2e",
    "kmeans_spherical",
    "grouping_sets",
    "stratified_sample",
    "hof_surface",
    "tfidf_topterms",
    "event_transitions",
    "gapfill_daily",
    "distinct_users_bitmap",
    "multimodal_image_decode",
    "anomaly_zscore",
    "embedding_quantize",
    "stream_dedup_delivery",
    "bm25_retrieval",
    "ngram_lm_score",
    "weighted_sample",
    "embedding_outliers",
    "scd2_intervals",
    "sequence_chunking",
    "sql_tpch_q5",
    "rollup_timegrain",
    "dedup_incremental",
    "dedup_minhash_incremental",
    "agg_approx_topk",
    "sim_ann_ivf_pq",
    "sequence_packing",
    "stream_topn",
    "subquery_in_exists",
    "stream_minhash_index",
    "stream_schema_evolution",
    "sql_tpch_q18",
    "merge_scd2",
    "bpe_learn",
    "dedup_canonical",
    "snapshot_diff",
    "table_profile",
    "join_interval",
    "stream_join_outer",
    "time_weighted_avg",
    "ewma_smoothing",
    "sql_tpch_q10",
    "entropy_profile",
    "winsorize_scale",
    "window_rolling_median",
    "join_bloom_prefilter",
    "sink_partial_overwrite",
    "zorder_layout",
    "sql_tpch_q14",
    "agg_mode_frequent",
    "sql_tpch_q1",
    "sql_tpch_q8",
    "sql_tpch_q17",
    "sql_tpch_q21",
    "agg_bitmap_overlap",
    "url_normalize",
    "data_skew_profile",
    "sink_sorted_global",
    "stream_sessionize_stateful",
    "join_partition_pruned",
    "gapfill_interpolate",
    "join_size_estimate",
    "drift_psi",
    "funnel_latency",
    "running_balance_clamped",
    "kanonymity_check",
    "attribution_linear",
    "set_ops_all",
    "grouping_surface",
    "datetime_surface",
    "stream_drift_psi",
    "stream_kl_divergence",
    "export_manifest",
    "dedup_substring",
    "dedup_substring_excise",
    "multimodal_decode_errors",
    "autocorr_daily",
    "cusum_changepoint",
    "seasonality_dow",
    "frequent_pairs",
    "triangle_count",
    "pagerank_nations",
    "sim_range_search",
    "source_reputation_filter",
    "cube_lattice_route",
    "stream_cusum",
    "skyline_pareto",
    "bfs_hops",
    "corpus_shuffle_shards",
    "join_skew_aqe",
    "catalog_persist",
    "shortest_path_weighted",
    "seasonal_decompose",
    "anomaly_mad",
    "l_diversity_check",
    "assoc_rules",
    "benford_check",
    "mutual_info_categorical",
    "quality_gopher_rules",
    "holt_linear_forecast",
    "session_path_topk",
    "stream_holt",
    "anomaly_mad_approx",
    "winsorize_approx",
    "connected_components",
    "interval_coverage",
    "gini_concentration",
    "hhi_concentration",
    "rolling_corr",
    "cross_correlation_lag",
    "rfm_segments",
    "quantile_normalize",
    "lorenz_deciles",
    "binseg_changepoints",
    "concurrency_peak",
    "stream_interval_coverage",
    "ngram_novelty",
    "interval_gaps",
    "concurrency_histogram",
    "kalman_filter_1d",
    "theil_sen_trend",
    "drift_ks",
    "chi2_independence",
    "stream_concurrency",
    "sync_checksum",
    "sync_fk_audit",
    "script_mix",
    "hampel_filter",
    "spearman_corr",
    "mann_whitney_u",
    "runs_test",
    "page_hinkley",
    "degree_assortativity",
    "label_propagation",
    "funnel_window",
    "sync_column_drift",
    "vocab_growth",
    "anova_oneway",
    "higher_moments",
    "hapax_ratio",
    "stream_page_hinkley",
    "mann_kendall",
    "grubbs_outlier",
    "transition_pmi",
    "iqr_fences",
    "kruskal_wallis",
    "kendall_tau",
    "t_closeness_check",
    "local_clustering",
    "kaplan_meier",
    "sync_partition_digest",
    "jarque_bera",
    "turning_points",
    "class_rebalance",
    "multimodal_image_histogram",
    "levene_test",
    "zipf_fit",
    "stream_benford",
    "ljung_box",
    "cox_stuart",
    "jaccard_neighbors",
    "graph_reciprocity",
    "burstiness",
    "tail_cvar",
    "friedman_test",
    "odds_ratio",
    "transition_entropy",
    "sign_test",
    "mcnemar_test",
    "theil_u",
    "kl_divergence",
    "cohens_d",
    "curriculum_stages",
    # r13 additions (map-only / bin-rollup — sub-second class)
    "cohens_kappa",
    "readability_score",
    "doc_length_histogram",
]


# FROZEN-CORE subtotal (VERDICT r10 next #2): the headline total is
# composition-sensitive (it grows with every registered key), so the
# round-over-round one-liner also carries a PINNED subtotal over the
# keys present since r8 — like-for-like across rounds regardless of
# registry growth. Do NOT add keys to this list; new keys join the
# headline total only.
CORE_R8 = frozenset([
    "scan_project",
    "filter_pushdown",
    "agg_hash",
    "agg_distinct",
    "join_inner",
    "join_left",
    "window_rank",
    "window_frame",
    "sort_limit",
    "rollup_cube",
    "scalar_funcs",
    "semi_structured",
    "stream_tumbling",
    "stream_session",
    "stream_join",
    "dedup_exact",
    "dedup_minhash",
    "text_stats",
    "token_count",
    "fingerprint",
    "sim_topk",
    "sim_ann_ivf",
    "multimodal_meta",
    "join_skew_salted",
    "merge_upsert",
    "explode_wordcount",
    "corpus_sample",
    "sql_frontend",
    "contamination_check",
    "quality_repetition",
    "pii_scrub",
    "vector_centroids",
    "sessionize",
    "funnel",
    "retention",
    "cdc_compact",
    "window_range_frame",
    "pipeline_e2e",
    "kmeans_spherical",
    "grouping_sets",
    "stratified_sample",
    "hof_surface",
    "tfidf_topterms",
    "event_transitions",
    "gapfill_daily",
    "distinct_users_bitmap",
    "multimodal_image_decode",
    "anomaly_zscore",
    "embedding_quantize",
    "stream_dedup_delivery",
    "bm25_retrieval",
    "ngram_lm_score",
    "weighted_sample",
    "embedding_outliers",
    "scd2_intervals",
    "sequence_chunking",
    "sql_tpch_q5",
    "rollup_timegrain",
    "dedup_incremental",
    "dedup_minhash_incremental",
    "agg_approx_topk",
    "sim_ann_ivf_pq",
    "sequence_packing",
    "stream_topn",
    "subquery_in_exists",
    "stream_minhash_index",
    "stream_schema_evolution",
    "sql_tpch_q18",
    "merge_scd2",
    "bpe_learn",
    "dedup_canonical",
    "snapshot_diff",
    "table_profile",
    "join_interval",
    "stream_join_outer",
    "time_weighted_avg",
    "ewma_smoothing",
    "sql_tpch_q10",
    "entropy_profile",
    "winsorize_scale",
    "window_rolling_median",
    "join_bloom_prefilter",
    "sink_partial_overwrite",
    "zorder_layout",
    "sql_tpch_q14",
    "agg_mode_frequent",
    "sql_tpch_q1",
    "sql_tpch_q8",
    "sql_tpch_q17",
    "sql_tpch_q21",
    "agg_bitmap_overlap",
    "url_normalize",
    "data_skew_profile",
    "sink_sorted_global",
    "stream_sessionize_stateful",
    "join_partition_pruned",
    "gapfill_interpolate",
    "join_size_estimate",
    "drift_psi",
    "funnel_latency",
    "running_balance_clamped",
    "kanonymity_check",
    "attribution_linear",
    "set_ops_all",
    "grouping_surface",
    "datetime_surface",
    "stream_drift_psi",
    "export_manifest",
    "dedup_substring",
    "dedup_substring_excise",
    "multimodal_decode_errors",
    "autocorr_daily",
    "cusum_changepoint",
    "seasonality_dow",
    "frequent_pairs",
    "triangle_count",
    "pagerank_nations",
    "sim_range_search",
    "source_reputation_filter",
    "cube_lattice_route",
    "stream_cusum",
    "skyline_pareto",
    "bfs_hops",
    "corpus_shuffle_shards",
])

def fixture_fingerprint(sf_dir: str) -> dict:
    """Identity of the fixture set the numbers were measured against:
    (name, size, mtime) of every parquet, folded into one short hash.
    Fixtures have been regenerated between rounds before (r4→r5, same row
    counts, different host state) — without this stamp, round-over-round
    bench deltas are not attributable."""
    import hashlib  # noqa: PLC0415

    files = sorted(
        f for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    parts, max_mtime = [], 0.0
    for f in files:
        st = os.stat(os.path.join(sf_dir, f))
        parts.append(f"{f}:{st.st_size}:{int(st.st_mtime)}")
        max_mtime = max(max_mtime, st.st_mtime)
    digest = hashlib.sha256("|".join(parts).encode()).hexdigest()[:12]
    return {"hash": digest, "n_files": len(files), "max_mtime": int(max_mtime)}


def _is_noisy(q: str) -> bool:
    """Streaming / JDBC-sink queries leave checkpoint dirs, state-store
    instances and an embedded-Derby engine in the JVM; pure-compute
    queries sharing that shard measured 1.7x their isolated time (r8:
    sql_tpch_q5 1.42 s sharded vs 0.83 s isolated), so they are
    quarantined into their own tail shards."""
    return q.startswith("stream_") or q in (
        "merge_upsert",
        "cdc_compact",
        "snapshot_diff",
        "merge_scd2",
    )


def shard_names(shard: int, n_shards: int) -> list[str]:
    """Shard assignment by NAME HASH, not list position: r7→r8 showed
    that position-sliced shards shift every query's neighbors whenever a
    key is added to HEADLINE, which turns shard-composition noise into
    phantom per-query regressions (r8's table_profile/grouping_surface
    1.8x). Hashing the query name pins each query's shard — and
    therefore its JVM cohabitants — across rounds regardless of registry
    growth, so round-over-round per-query deltas compare like against
    like. Noisy (streaming/Derby) queries hash into the reserved TAIL
    shards only; within a shard, HEADLINE order holds."""
    import hashlib  # noqa: PLC0415

    n_noisy = max(1, n_shards // 4) if n_shards > 1 else 0
    n_quiet = n_shards - n_noisy

    def assign(q: str) -> int:
        h = int(hashlib.md5(q.encode()).hexdigest(), 16)
        if _is_noisy(q) and n_noisy:
            return n_quiet + h % n_noisy
        return h % max(n_quiet, 1)

    return [q for q in HEADLINE if assign(q) == shard]


def run_worker(shard: int, n_shards: int, out_path: str) -> None:
    """One bench shard in its own process/JVM.

    BENCH_r07 recorded 2-14x per-query inflation that vanished in a fresh
    session: a 108-query single-session sweep accumulates cached blocks
    (bounded_cache is per-key only), tmpfs shuffle/stream scratch, and
    JIT/code-cache/GC churn, so late queries measured the session's
    history, not their plans. Sharding bounds that accumulation to ~1/8 of
    the sweep and resets JVM state at every shard boundary; shards run
    SEQUENTIALLY (parallel JVMs would contend for the same cores and
    reintroduce the noise the split removes).
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = shard_names(shard, n_shards)
    spark = get_spark(app_name=f"bench-shard{shard}")
    queries = all_queries()

    # Warmup on the smallest fixture: JVM/codegen JIT, the higher-order-
    # function interpreter paths, and the Python worker pool — so per-query
    # numbers measure the plan, not first-run JIT/process startup. Every
    # query in the shard warms (first-run codegen compilation measured
    # 5-10x the steady state for the decimal/HOF-heavy queries; sf0.001
    # makes the warmup pass cheap while compiling the same classes).
    warm_dir = warmup_dir(sf_dir)
    if warm_dir:
        for warm_q in names:
            queries[warm_q](spark, warm_dir).count()

    # Best-of-N (N=3) per query: this host shows bursty CPU steal
    # (identical runs measured 1-7x apart), so a single sample measures
    # the neighbor, not the plan. The headline `queries` value is the
    # per-query MIN (closest to the true plan cost); the median and the
    # min/median spread are persisted alongside so round-over-round
    # comparisons can tell a plan change from host noise (a real
    # regression moves the min; steal moves the median and spread).
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        samples = []
        for _ in range(trials):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[0], 3)
        medians[name] = round(samples[len(samples) // 2], 3)
    with open(out_path, "w") as f:
        json.dump({"queries": timings, "queries_median": medians}, f)
    spark.stop()


def warmup_dir(sf_dir: str) -> str | None:
    """Warmup fixture for the measurement subprocesses (ADVICE r10: a
    hardcoded /root/testdata path crashes the isolated lane on a host
    without it — the mover then silently gets no isolated sample).
    Resolution order: SPARK_GRAFT_WARMUP_DIR, else the sf0.001 sibling
    of the measured fixture, else the measured fixture's own root; None
    (skip warmup) when nothing on that list exists."""
    candidates = [
        os.environ.get("SPARK_GRAFT_WARMUP_DIR"),
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"),
    ]
    for c in candidates:
        if c and os.path.isdir(c):
            return c
    return sf_dir if os.path.isdir(sf_dir) else None


#: Stability contract for the isolated lane (VERDICT r11 next #3: the
#: r11 recorded lane was itself steal-contaminated — dedup_canonical
#: 7.0 s recorded vs 1.47 s on a quiet host — so the adjudicator's
#: conclusion contradicted its own artifact). A pass is `trials`
#: timed runs → one min; the lane re-runs passes until the two best
#: pass-minima agree within ISOLATED_STABLE_TOL, up to
#: ISOLATED_MAX_PASSES. Loadavg is recorded per pass so a
#: contaminated sample is visible in the artifact.
ISOLATED_STABLE_TOL = 0.10
ISOLATED_MAX_PASSES = 4


def run_isolated(name: str, out_path: str) -> None:
    """One query, alone, in a fresh JVM — the adjudication lane
    (VERDICT r9 next #1): when a key's sharded min moves round-over-round,
    the isolated number mechanically distinguishes host steal / shard
    cohabitation (isolated ≈ previous round) from a genuine plan change
    (isolated ≈ the new sharded min). Same warmup + best-of-N protocol as
    the shard sweep, minus the JVM history of every other query; passes
    repeat until the two best minima agree within ISOLATED_STABLE_TOL
    (a single pass immediately after the sharded sweep inherits the
    host's steal burst — the r11 contamination)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    spark = get_spark(app_name=f"bench-isolated-{name}")
    fn = all_queries()[name]
    warm_dir = warmup_dir(sf_dir)
    if warm_dir:
        fn(spark, warm_dir).count()
    pass_mins: list[float] = []
    loadavgs: list[float] = []
    stable = False
    for _ in range(ISOLATED_MAX_PASSES):
        loadavgs.append(round(os.getloadavg()[0], 2))
        samples = []
        for _ in range(trials):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        pass_mins.append(round(min(samples), 3))
        if len(pass_mins) >= 2:
            best = sorted(pass_mins)[:2]
            if best[1] <= best[0] * (1 + ISOLATED_STABLE_TOL):
                stable = True
                break
    with open(out_path, "w") as f:
        json.dump(
            {
                "min": min(pass_mins),
                "pass_mins": pass_mins,
                "stable": stable,
                "loadavg": loadavgs,
            },
            f,
        )
    spark.stop()


#: Isolated-lane trigger: sharded min moved by more than this factor vs
#: the previous round's min (either direction — a suspicious speedup is
#: re-timed too), with an absolute floor so sub-100ms jitter never pages.
ISOLATE_RATIO = 1.5
ISOLATE_FLOOR_SEC = 0.2
ISOLATE_MAX_KEYS = 12  # bound the lane's wall-clock; slowest movers first


def pick_movers(prev: dict[str, float], cur: dict[str, float]) -> list[str]:
    movers = []
    for k, v in cur.items():
        p = prev.get(k)
        if p is None:
            continue  # new key this round: no like-for-like baseline
        if max(v, p) < ISOLATE_FLOOR_SEC:
            continue
        r = v / p if p > 0 else float("inf")
        if r > ISOLATE_RATIO or r < 1.0 / ISOLATE_RATIO:
            movers.append(k)
    # Frozen-core movers adjudicate FIRST (VERDICT r10 next #2: any core
    # mover > ISOLATE_RATIO must get an isolated sample), then the rest,
    # slowest first within each class.
    movers.sort(key=lambda k: (k not in CORE_R8, -cur[k]))
    return movers[:ISOLATE_MAX_KEYS]


def adjudicate(
    prev_min: float, isolated_min: float, stable, fixture_changed: bool = False
) -> str:
    """Machine-generated per-mover verdict (VERDICT r11 next #3: the
    round-summary sentence must derive from the artifact, not the other
    way around). `noise`: the quiet isolated re-time lands back at the
    prior cost (within ISOLATE_RATIO) — the sharded move was steal /
    cohabitation. `regression` / `improvement`: the isolated number
    confirms the move AGAINST THE SAME DATA. `cross-fixture-move`: the
    move is confirmed but the previous min was timed on a DIFFERENT
    fixture fingerprint (the driver regenerates /root/testdata between
    rounds) — a data-distribution shift and a plan change are
    indistinguishable from timings alone, so the class never asserts
    either (r13: drift_psi 0.70→1.12 s across regenerated fixtures
    machine-read as `regression` with zero code changes — this class is
    the fix). `unstable`: the lane never converged (ISOLATED_MAX_PASSES
    passes without two minima within tolerance) — trust nothing, re-run
    on a quiet host."""
    if not stable:
        return "unstable"
    if prev_min <= 0:
        return "regression"
    r = isolated_min / prev_min
    if r > ISOLATE_RATIO or r < 1.0 / ISOLATE_RATIO:
        if fixture_changed:
            return "cross-fixture-move"
        return "regression" if r > ISOLATE_RATIO else "improvement"
    return "noise"


LINE_BUDGET = 1900  # chars; the driver keeps only the last ~2000 of stdout


def headline_line(
    timings: dict[str, float],
    total: float,
    total_median: float,
    trials: int,
    sf: float,
    fixture_hash: str,
    core_total: float | None = None,
    n_core: int | None = None,
) -> str:
    """The ONE printed JSON line, guaranteed ≤ LINE_BUDGET chars.

    The driver snapshots only the LAST ~2000 chars of stdout and parses
    the JSON line out of that tail: r5 and r7 printed the full per-query
    dict (~2.8 KB once the headline grew past ~100 queries), the line's
    HEAD fell off the tail window, and the driver recorded parsed=null —
    those rounds have no machine-readable bench at all. Emit per-query
    timings slowest-first and stop adding entries before the line
    overflows; the complete map lives in BENCH_DETAIL.json either way
    (``n_queries`` vs ``len(queries)`` shows how many were elided).
    """
    base = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(timings),
        "total_median": total_median,
        "trials": trials,
        "sf": sf,
        "fixture": fixture_hash,
        "detail": "BENCH_DETAIL.json",
    }
    if core_total is not None:
        # Pinned like-for-like subtotal over CORE_R8 — the headline
        # total alone is composition-sensitive as the registry grows.
        base["core_total"] = core_total
        base["n_core"] = n_core
    line = json.dumps(base, separators=(",", ":"))
    kept: dict[str, float] = {}
    for k, v in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        cost = len(json.dumps({k: v}, separators=(",", ":"))) + 1
        if len(line) + cost > LINE_BUDGET:
            break
        kept[k] = v
        base["queries"] = kept
        line = json.dumps(base, separators=(",", ":"))
    return line


def main() -> None:
    import subprocess  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_shards = int(os.environ.get("SPARK_GRAFT_BENCH_SHARDS", "8"))
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    with tempfile.TemporaryDirectory(prefix="bench-shards-") as tmp:
        for shard in range(n_shards):
            if not shard_names(shard, n_shards):
                continue
            out = os.path.join(tmp, f"shard{shard}.json")
            for attempt in (1, 2):
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--worker", str(shard), str(n_shards), out],
                    stdout=sys.stderr,
                    stderr=sys.stderr,
                )
                if proc.returncode == 0 and os.path.exists(out):
                    break
                if attempt == 2:
                    raise RuntimeError(
                        f"bench shard {shard} failed twice (rc={proc.returncode})"
                    )
            with open(out) as f:
                part = json.load(f)
            timings.update(part["queries"])
            medians.update(part["queries_median"])

    total = round(sum(timings.values()), 3)
    total_median = round(sum(medians.values()), 3)
    core = {k: v for k, v in timings.items() if k in CORE_R8}
    core_total = round(sum(core.values()), 3)
    core_total_median = round(
        sum(v for k, v in medians.items() if k in CORE_R8), 3
    )
    fixture = fixture_fingerprint(sf_dir)

    # Isolated adjudication lane: re-time round-over-round movers in a
    # fresh single-query JVM (see run_isolated). The PREVIOUS round's
    # per-query mins are whatever BENCH_DETAIL.json held before this run
    # overwrites it; a fixture-fingerprint change is recorded alongside
    # (cross-fingerprint deltas are only suggestive — memory:
    # driver-contract-gotchas).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    isolated: dict[str, dict] = {}
    prev_fixture = None
    try:
        with open(detail_path) as f:
            prev = json.load(f)
        prev_fixture = (prev.get("fixture") or {}).get("hash")
        prev_mins = prev.get("queries") or {}
    except (OSError, ValueError):
        prev_mins = {}
    if os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0":
        with tempfile.TemporaryDirectory(prefix="bench-isolated-") as tmp:
            for name in pick_movers(prev_mins, timings):
                out = os.path.join(tmp, "iso.json")
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--isolated", name, out],
                    stdout=sys.stderr,
                    stderr=sys.stderr,
                )
                if proc.returncode == 0 and os.path.exists(out):
                    with open(out) as f:
                        iso = json.load(f)
                    isolated[name] = {
                        "prev_min": prev_mins[name],
                        "sharded_min": timings[name],
                        "isolated_min": iso["min"],
                        "pass_mins": iso.get("pass_mins"),
                        "stable": iso.get("stable"),
                        "loadavg": iso.get("loadavg"),
                        "verdict": adjudicate(
                            prev_mins[name],
                            iso["min"],
                            iso.get("stable"),
                            fixture_changed=(
                                prev_fixture is not None
                                and prev_fixture != fixture["hash"]
                            ),
                        ),
                    }
                    os.remove(out)
    # Full detail to a sidecar file: the driver snapshots only a bounded
    # tail of stdout, so the printed line must stay compact (per-query
    # MINs + fingerprint); medians/spread/fixture inventory live here.
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "total_median": total_median,
        "trials": trials,
        "shards": n_shards,
        "sf": float(sf),
        "fixture": fixture,
        "isolated": isolated,
        "prev_fixture": prev_fixture,
        "core_total": core_total,
        "core_total_median": core_total_median,
        "n_core": len(core),
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(
        headline_line(
            timings,
            total,
            total_median,
            trials,
            float(sf),
            fixture["hash"],
            core_total=core_total,
            n_core=len(core),
        )
    )


if __name__ == "__main__":
    if len(sys.argv) >= 5 and sys.argv[1] == "--worker":
        run_worker(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
    elif len(sys.argv) >= 4 and sys.argv[1] == "--isolated":
        run_isolated(sys.argv[2], sys.argv[3])
    else:
        main()
