"""Driver-lane crossover measurement.

The loop-shaped operators (graph fixed points, dedup connected
components, the BPE merge loop) solve their ITERATION on the driver
below the ``lanes`` ceilings "graph_driver_edge", "dedup_cc_edge" and
"bpe_vocab_driver".

This harness builds synthetic inputs at fractions and multiples of each
ceiling, times both lanes on identical data in one session (forcing the
lane by patching ``lanes.CEILINGS``, exactly like the twin tests), checks
the lanes produce identical results, and prints one JSON document
(committed as ``CROSSOVER_r14.json``). "The right ceiling" is where the
lane times cross: below it the distributed loop is pure job overhead,
above it the driver solve's single-core Python cost overtakes.

Run: ``python tests/crossover.py [out.json]`` (quiet host; ~minutes).
"""

from __future__ import annotations

import json
import os
import sys
import time
from unittest.mock import patch

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cpt_database_sync_spark.operators import graph, lanes, llm_dedup  # noqa: E402
from cpt_database_sync_spark.session import get_spark  # noqa: E402

# Ceilings that force the driver lane and the distributed lane.
DRIVER, DISTRIBUTED = 10**18, 0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3)


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def cc_edges(spark, n_edges: int, n_nodes: int):
    """Deterministic synthetic (a_id, b_id) pair relation: n_edges rows
    over n_nodes nodes, hashed spread (guide §2.5 — deterministic
    synthetic keys), a_id < b_id like the near-dup pair pipelines."""
    e = spark.range(n_edges).select(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 1_000_000_007), F.lit(n_nodes)).alias("y"),
    )
    return (
        e.filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a_id"), F.greatest("x", "y").alias("b_id")
        )
        .distinct()
        .localCheckpoint(eager=True)  # time the LANES, not the generator
    )


def run_cc(spark, sizes) -> dict:
    out = {}
    for n in sizes:
        edges = cc_edges(spark, n, max(1000, n // 50))
        n_real = edges.count()
        with patch.dict(lanes.CEILINGS, {"dedup_cc_edge": DRIVER}):
            d_res, t_driver = _timed(
                lambda: _rowset(llm_dedup.connected_components(edges))
            )
        with patch.dict(lanes.CEILINGS, {"dedup_cc_edge": DISTRIBUTED}):
            s_res, t_dist = _timed(
                lambda: _rowset(llm_dedup.connected_components(edges))
            )
        out[str(n)] = {
            "edges": n_real,
            "t_driver": t_driver,
            "t_distributed": t_dist,
            "identical": d_res == s_res,
        }
    return out


def run_graph(spark, sizes) -> dict:
    """PageRank representative for the 5 graph loops: synthetic flows
    (src, dst, w) patched in for ``_trade_flows``; both lanes share the
    checkpointed edge relation so only the iteration is timed."""
    out = {}
    saved_flows = graph._trade_flows
    try:
        for n in sizes:
            n_nodes = max(1000, int((2 * n) ** 0.5))
            flows = (
                spark.range(n)
                .select(
                    F.pmod(F.xxhash64(F.col("id")), F.lit(n_nodes)).alias("src"),
                    F.pmod(
                        F.xxhash64(F.col("id") + 7_777_777), F.lit(n_nodes)
                    ).alias("dst"),
                )
                .filter(F.col("src") != F.col("dst"))
                .groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("w"))
                .localCheckpoint(eager=True)
            )
            n_real = flows.count()
            # real sf_dir only for the final 25-row nation-name join;
            # the iteration runs over the patched synthetic flows
            sf_small = "/root/testdata/sf0.001"
            graph._trade_flows = lambda s, d, _f=flows: _f
            with patch.dict(lanes.CEILINGS, {"graph_driver_edge": DRIVER}):
                d_res, t_driver = _timed(
                    lambda: _rowset(graph.pagerank_nations(spark, sf_small))
                )
            with patch.dict(lanes.CEILINGS, {"graph_driver_edge": DISTRIBUTED}):
                s_res, t_dist = _timed(
                    lambda: _rowset(graph.pagerank_nations(spark, sf_small))
                )
            out[str(n)] = {
                "edges": n_real,
                "t_driver": t_driver,
                "t_distributed": t_dist,
                "identical": d_res == s_res,
            }
    finally:
        graph._trade_flows = saved_flows
        graph._FLOWS_ROWS_MEMO[:] = []
    return out


def run_bpe(spark, sizes) -> dict:
    """BPE merge loop at vocab sizes around the "bpe_vocab_driver" ceiling:
    synthetic corpus = one document per distinct word (freq 1), words of
    4-10 lowercase letters derived from the row id."""
    from cpt_database_sync_spark.operators import llm_text as lt

    out = {}
    saved_load = lt.load
    try:
        for n in sizes:
            # hex-rendered hash = a 1-16 char word over [0-9a-f]: real
            # shared-substring structure for the merge loop to chew on
            word = F.lower(F.hex(F.abs(F.xxhash64(F.col("id")))))
            docs = (
                spark.range(n)
                .select(F.col("id").alias("doc_id"), word.alias("text"))
                .localCheckpoint(eager=True)
            )
            n_real = docs.select("text").distinct().count()
            lt.load = lambda s, d, t, _docs=docs: _docs
            with patch.dict(lanes.CEILINGS, {"bpe_vocab_driver": DRIVER}):
                d_res, t_driver = _timed(
                    lambda: _rowset(lt.bpe_learn(spark, "/nonexistent"))
                )
            with patch.dict(lanes.CEILINGS, {"bpe_vocab_driver": DISTRIBUTED}):
                s_res, t_dist = _timed(
                    lambda: _rowset(lt.bpe_learn(spark, "/nonexistent"))
                )
            out[str(n)] = {
                "distinct_words": n_real,
                "t_driver": t_driver,
                "t_distributed": t_dist,
                "identical": d_res == s_res,
            }
    finally:
        lt.load = saved_load
    return out


def main() -> None:
    spark = get_spark(app_name="crossover-r14")
    doc = {
        "loadavg": round(os.getloadavg()[0], 2),
        "cc": run_cc(spark, [125_000, 500_000, 2_000_000]),
        "graph_pagerank": run_graph(spark, [125_000, 500_000, 2_000_000]),
        "bpe": run_bpe(spark, [50_000, 200_000, 800_000]),
    }
    out_path = sys.argv[1] if len(sys.argv) > 1 else "CROSSOVER_r14.json"
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(doc))
    spark.stop()


if __name__ == "__main__":
    main()
