"""Heavy-tail scale STEP-UP sweep (VERDICT r10 next #7): time the most
expensive registry keys at two scale factors and differentially verify
the larger one, converting 100 TB design claims into measured scaling
curves.

    python tests/stepup.py [small_dir] [big_dir] [key ...]

Defaults: sf0.1 → /tmp/sf1 (build it first with make_scale_fixture.py)
over STEPUP_KEYS. For each key: best-of-2 wall time at each dir (fresh
fixture-independent engine session, count() materialization — the bench
protocol), then the full DuckDB parity compare at the BIG dir.
Golden-fingerprint-keyed oracles (committed expectations for the
driver's corpora only) get scale-parametric re-derivation where an
independent lane exists (GOLDEN_REFERENCE_CHECKS: bpe_learn vs the
pure-Python tests/bpe_ref.py, stream_minhash_index vs the one-shot
batch index build); the rest report oracle=golden-skip.

Prints one JSON line at the end for SURVEY §5.2 #11.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Top of BENCH_DETAIL r10 by per-key min, plus the newest scale-claim
# operators the verdict names (CC, binseg, novelty, concurrency).
STEPUP_KEYS = [
    "stream_join_outer",
    "dedup_canonical",
    "triangle_count",
    "connected_components",
    "stream_drift_psi",
    "stream_sessionize_stateful",
    "stream_minhash_index",
    "anomaly_mad_approx",
    "benford_check",
    "dedup_substring",
    "bpe_learn",
    "join_skew_aqe",
    "shortest_path_weighted",
    "stream_holt",
    "stream_interval_coverage",
    "stream_cusum",
    "assoc_rules",
    "kmeans_spherical",
    "anomaly_mad",
    "frequent_pairs",
    "binseg_changepoints",
    "ngram_novelty",
    "concurrency_peak",
    "interval_coverage",
    # r13 additions (VERDICT r12 next #7): the two-level rank family,
    # the dimension-rank dispatch family, and the 5 r12 keys.
    "mann_whitney_u",
    "kruskal_wallis",
    "spearman_corr",
    "quantile_normalize",
    "curriculum_stages",
    "rfm_segments",
    "lorenz_deciles",
    "gini_concentration",
    "mcnemar_test",
    "theil_u",
    "kl_divergence",
    "cohens_d",
    "concurrency_histogram",
    "drift_ks",
    "burstiness",
    "stream_kl_divergence",
    # r13 late additions: the exact-percentile dispatch family
    # (VERDICT r12 missing #3 — the last documented-not-implemented
    # approx-boundary swaps, now real two-level lanes).
    "iqr_fences",
    "tail_cvar",
    "levene_test",
    "funnel_latency",
    "vocab_growth",
    # r13 breadth: the iterative-graph family (the per-round
    # iterate⋈edges dispatch at 10× the edge mass; four keys also get
    # forced co-partitioned BIG-lane oracle rows), the IVF ANN probe,
    # the Derby FK audit, and the heaviest streaming soak key.
    "pagerank_nations",
    "bfs_hops",
    "label_propagation",
    "local_clustering",
    "jaccard_neighbors",
    "sim_ann_ivf",
    "sync_fk_audit",
    "stream_page_hinkley",
]

# Keys whose registered callable dispatches on a size ceiling: verify
# the scale lane at the big dir too (the small lane is what the footer
# count picks at sf1 — the scale lane is the 100 TB plan and needs its
# own oracle row). Each key maps to the lane whose ceiling is set to 0
# for that run; for the graph keys that is the co-partitioned per-round
# join.
BIG_LANE_OVERRIDES = {
    **dict.fromkeys(
        (
            "spearman_corr", "quantile_normalize", "rfm_segments",
            "lorenz_deciles", "gini_concentration", "concurrency_histogram",
            "drift_ks", "burstiness", "concurrency_peak", "iqr_fences",
            "tail_cvar", "levene_test", "funnel_latency",
        ),
        "single_task_rows",
    ),
    "vocab_growth": "vocab_window",
    **dict.fromkeys(
        (
            "pagerank_nations", "label_propagation", "connected_components",
            "shortest_path_weighted",
        ),
        "graph_bcast_node",
    ),
}


def _check_bpe_learn(spark, specs, big: str) -> tuple[str, int]:
    """bpe_learn vs the pure-Python reference (tests/bpe_ref.py): word
    frequencies from DuckDB, merge loop in plain Python — shares no
    code with the engine's distributed fold."""
    from tests.bpe_ref import bpe_learn_ref_rows

    got = {tuple(r) for r in specs["bpe_learn"].fn(spark, big).collect()}
    want = bpe_learn_ref_rows(big)
    if got != want:
        print(
            f"  bpe_learn REF MISMATCH: only-spark={list(got - want)[:2]} "
            f"only-ref={list(want - got)[:2]}"
        )
    return ("ref-pass" if got == want else "REF-FAIL"), len(got)


def _check_stream_minhash_index(spark, specs, big: str) -> tuple[str, int]:
    """stream_minhash_index vs dedup_minhash_incremental: the stream-
    maintained index must classify the increment identically to the
    one-shot batch-built index (the operators' stated contract — index
    maintenance strategy invisible to readers). Streaming micro-batch
    maintenance and the batch build are independent execution paths."""
    got = {
        tuple(r)
        for r in specs["stream_minhash_index"].fn(spark, big).collect()
    }
    want = {
        tuple(r)
        for r in specs["dedup_minhash_incremental"].fn(spark, big).collect()
    }
    if got != want:
        print(
            f"  stream_minhash_index TWIN MISMATCH: "
            f"only-stream={list(got - want)[:2]} "
            f"only-batch={list(want - got)[:2]}"
        )
    return ("twin-pass" if got == want else "TWIN-FAIL"), len(got)


GOLDEN_REFERENCE_CHECKS = {
    "bpe_learn": _check_bpe_learn,
    "stream_minhash_index": _check_stream_minhash_index,
}


def _sf1_lpa_oracle(con) -> str:
    """Feasible sf1 form of label_propagation's oracle: DuckDB 1.0.0
    plans the double-inlined `flows` 4-way lineitem join under eu's
    UNION ALL pathologically at sf1 and spills unboundedly (reproduced:
    the direct flows join runs in 1.2 s, the same join through the eu
    CTE never returns and filled the disk — the round-13 incident).
    Materialize flows → eu → nodes STEPWISE as temp tables from the
    SAME body strings the registered oracle composes as CTEs, then run
    the identical round chain + tail off them — the value contract is
    unchanged (asserted value-identical to the registered single
    statement at sf0.01 in test_units), only the oracle's physical
    plan is."""
    from cpt_database_sync_spark.operators.graph import (
        _LPA_EU_BODY,
        _LPA_FLOWS_BODY,
        _LPA_NODES_BODY,
        _LPA_ROUND_CHAIN,
        _LPA_TAIL,
    )

    for rel, body in (
        ("flows", _LPA_FLOWS_BODY),
        ("eu", _LPA_EU_BODY),
        ("nodes", _LPA_NODES_BODY),
    ):
        con.execute(f"CREATE OR REPLACE TEMP TABLE {rel} AS " + body)
    return (
        "WITH l0 AS (SELECT node, node AS lab FROM nodes)"
        + _LPA_ROUND_CHAIN
        + _LPA_TAIL
    )


# Keys whose REGISTERED oracle is infeasible on the big dir (oracle-side
# physics, not engine-side): callable(con) prepares state and returns the
# value-identical SQL actually run at sf1. Recorded per key as
# oracle_note in the output.
SF1_ORACLE_REWRITES = {
    "label_propagation": _sf1_lpa_oracle,
}


def time_key(fn, spark, sf_dir: str, trials: int = 2) -> float:
    best = float("inf")
    for _ in range(trials):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    from unittest.mock import patch

    import duckdb

    from cpt_database_sync_spark.operators import lanes, llm_text
    from cpt_database_sync_spark.plans.registry import all_specs
    from cpt_database_sync_spark.session import get_spark
    from cpt_database_sync_spark.sources.tables import ALL_TABLES
    from tests.parity import run_query_pair

    argv = sys.argv[1:]
    small = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    big = argv[1] if len(argv) > 1 else "/tmp/sf1"
    keys = argv[2:] or STEPUP_KEYS

    specs = all_specs()
    spark = get_spark(app_name="stepup")
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{big}/{t}.parquet'")

    out: dict[str, dict] = {}
    for name in keys:
        spec = specs[name]
        # warmup at the smallest fixture (bench protocol)
        spec.fn(spark, "/root/testdata/sf0.001").count()
        t_small = time_key(spec.fn, spark, small)
        t_big = time_key(spec.fn, spark, big)
        golden = spec.oracle and "corpus_md5" in spec.oracle
        oracle = spec.oracle
        oracle_note = None
        if name in SF1_ORACLE_REWRITES and oracle and not golden:
            oracle = SF1_ORACLE_REWRITES[name](con)
            oracle_note = "rewritten: CTEs materialized (see docstring)"
        if oracle and not golden:
            problems, nrows = run_query_pair(
                spark, con, spec.fn, oracle, big
            )
            status = "pass" if not problems else "FAIL"
            if problems:
                print(f"  {name} PARITY PROBLEMS: {problems[:2]}")
        elif golden and name in GOLDEN_REFERENCE_CHECKS:
            # Scale-parametric derivation for the golden-keyed keys
            # (VERDICT r11 next #7): the committed golden parquet only
            # covers the driver's fixtures, so a GENERATED corpus used
            # to get "golden-skip". These re-derive the expectation on
            # the big dir itself — an independent implementation
            # (bpe_ref) or the independent batch execution path
            # (stream vs one-shot index build) — full value evidence.
            status, nrows = GOLDEN_REFERENCE_CHECKS[name](spark, specs, big)
        else:
            nrows = spec.fn(spark, big).count()
            status = "golden-skip" if golden else "rows-only"
        ratio = round(t_big / t_small, 2) if t_small > 0 else None
        out[name] = {
            "t_small": t_small,
            "t_big": t_big,
            "ratio": ratio,
            "parity": status,
            "rows_big": nrows,
        }
        if oracle_note:
            out[name]["oracle_note"] = oracle_note
        if name in BIG_LANE_OVERRIDES and oracle and not golden:
            t0 = time.perf_counter()
            # VOCAB_DOC_CHUNK=7: several position chunks at any scale
            with patch.dict(lanes.CEILINGS, {BIG_LANE_OVERRIDES[name]: 0}), \
                    patch.object(llm_text, "VOCAB_DOC_CHUNK", 7):
                problems2, _ = run_query_pair(spark, con, spec.fn, oracle, big)
            out[name]["parity_big_lane"] = "pass" if not problems2 else "FAIL"
            out[name]["t_big_lane"] = round(time.perf_counter() - t0, 3)
            if problems2:
                print(f"  {name} BIG-LANE PARITY PROBLEMS: {problems2[:2]}")
        print(
            f"{name}: {t_small:.2f}s -> {t_big:.2f}s (x{ratio}) "
            f"[{status}, {nrows} rows]"
        )
    print(json.dumps({"small": small, "big": big, "stepup": out}))


if __name__ == "__main__":
    main()
