"""Size-dispatch lanes: every ceiling that picks between an operator's
two physical forms, in one table.

Each entry is one (value, reason). An operator asks ``exceeds(lane, n)``
with ``n`` taken from a parquet footer (``tables.table_rowcount``,
metadata only, no job) or ``collect_within(lane, df)``, which pulls a
small relation to the driver when it fits. Both lanes of every entry
return identical rows (``tests/test_lanes.py``). A test forces the
scale lane with ``monkeypatch.setitem(lanes.CEILINGS, lane, 0)``, or
with -1 when the input may have no rows.

Ratios below are the scale lane's median time over the small lane's
(4 vCPUs, every column written to the ``noop`` sink, construction
included, alternating runs): first at sf0.1 (7 runs; in every case the
two lanes' quartile ranges do not overlap), then on the 10x fixture
from ``tests/make_scale_fixture.py`` (5 runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CEILINGS: dict[str, int] = {
    # Rows one task may sort or buffer whole: a window ordered within a
    # group, or the exact Percentile's per-group value buffer. Above it
    # the two-level chunked devices (operators/ranks.py) run instead,
    # with only |chunks|-row aggregates left unpartitioned. n is the
    # fact's footer count, an upper bound for any one group. The bound
    # is memory, not speed: at 10x the lanes converge. Ratios (sf0.1 /
    # 10x): quantile_normalize 3.32 / 1.63, funnel_latency 2.41 / 1.70,
    # concurrency_histogram 2.27 / 1.24, tail_cvar 2.26 / 2.51,
    # rfm_segments 2.19 / 1.75, iqr_fences 2.09 / 1.68, spearman_corr
    # 2.08 / 1.02, winsorize_approx 1.99 / 1.66, levene_test 1.80 /
    # 1.60, gini_concentration 1.60 / 1.22, lorenz_deciles 1.54 / 1.15,
    # drift_ks 1.44 / 1.58, burstiness 1.39 / 1.09, concurrency_peak
    # 1.32 / 0.87 (the scale lane already wins at 1M events).
    "single_task_rows": 50_000_000,
    # vocab_growth's doc position: one corpus-wide row_number below,
    # chunk-local row_numbers plus a |chunks| prefix above. Ratio 1.64
    # at sf0.1, 1.34 at 10x.
    "vocab_window": 10_000_000,
    # Graph iterate relation (one row per node) broadcast into each
    # round's join below; above, the edges are hash-partitioned once
    # and the iterate relation shuffles to meet them. A memory bound
    # (~2M (id, value) rows is tens of MB per executor), not timed.
    "graph_bcast_node": 2_000_000,
    # Near-dup edge source: exact shingle self-join below (quadratic in
    # shingle frequency), banded MinHash + exact verify above. A cost
    # bound on the self-join, not timed.
    "dedup_pair_doc": 1_000_000,
    # Graph loops (PageRank, CC, BFS, shortest path, LPA) solve on the
    # driver over the collected edge list. PageRank ties the distributed
    # loop near 120k edges and loses 2.0x at 390k (CROSSOVER_r14.json).
    "graph_driver_edge": 150_000,
    # Dedup connected components by driver union-find over the
    # collected pairs: it wins at every measured size (driver vs
    # distributed 2.70 vs 2.82 s at 500k, 9.4 vs 12.2 s at 2M;
    # CROSSOVER_r14.json); the bound is driver memory.
    "dedup_cc_edge": 500_000,
    # BPE merge loop on the driver over the collected (word, freq)
    # vocabulary: driver vs distributed 16.3 vs 41.1 s at 200k words,
    # 57.6 vs 128.8 s at 800k (CROSSOVER_r14.json); the bound is the
    # single-core stall, not the crossover.
    "bpe_vocab_driver": 200_000,
    # K x dims centroid doubles embedded in the plan as a literal;
    # above, the centroids arrive as a one-row broadcast relation. A
    # plan-size bound (Catalyst folds ~10^4-10^5 literals), not timed.
    "centroid_literal": 65_536,
}

# Dataset.limit takes an int32.
_LIMIT_MAX = 2**31 - 2


def exceeds(lane: str, n: int) -> bool:
    """True when ``n`` is above ``lane``'s ceiling: take the scale lane."""
    return n > CEILINGS[lane]


def collect_within(lane: str, df: DataFrame):
    """``df``'s rows when it holds at most ``lane``'s ceiling of them,
    else None. One bounded job decides the lane and, below the ceiling,
    already holds the whole relation."""
    bound = min(CEILINGS[lane], _LIMIT_MAX)
    rows = df.limit(bound + 1).collect()
    return rows if len(rows) <= bound else None
