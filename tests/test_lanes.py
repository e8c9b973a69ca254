"""Lane twins: every size dispatch in ``operators/lanes.py`` returns the
same rows from both of its physical forms.

Each case runs one registered key on the fixture twice: once as
dispatched (the fixture is far below every ceiling, so the small lane),
once with the lane's ceiling patched to 0 (the scale lane), and
compares the collected rows by ``repr``, so floats must match bit for
bit. Plan-shape gates for the scale lanes stay in ``test_plans.py``.
"""

from __future__ import annotations

import inspect
import re

import pytest

from cpt_database_sync_spark.operators import lanes, llm_text
from cpt_database_sync_spark.plans.registry import all_queries

LANE_TWINS = [
    ("single_task_rows", key)
    for key in (
        "winsorize_approx", "gini_concentration", "quantile_normalize",
        "lorenz_deciles", "drift_ks", "spearman_corr", "levene_test",
        "funnel_latency", "concurrency_histogram", "rfm_segments",
        "concurrency_peak", "iqr_fences", "burstiness", "tail_cvar",
    )
] + [
    ("vocab_window", "vocab_growth"),
    ("graph_bcast_node", "pagerank_nations"),
    ("graph_bcast_node", "shortest_path_weighted"),
    ("graph_bcast_node", "connected_components"),
    ("graph_bcast_node", "label_propagation"),
    ("graph_driver_edge", "pagerank_nations"),
    ("graph_driver_edge", "shortest_path_weighted"),
    ("graph_driver_edge", "connected_components"),
    ("graph_driver_edge", "label_propagation"),
    ("graph_driver_edge", "bfs_hops"),
    ("dedup_pair_doc", "dedup_clusters"),
    ("dedup_pair_doc", "dedup_canonical"),
    ("dedup_cc_edge", "dedup_clusters"),
    ("bpe_vocab_driver", "bpe_learn"),
    ("centroid_literal", "kmeans_spherical"),
]

# Fixture guards for twins that are trivial on a thinner fixture:
# concurrency_peak must stack a channel (peak > 1) for the two-level
# sweep to differ from a plain count, vocab_growth must report its
# ten curve points.
FIXTURE_GUARDS = {
    "concurrency_peak": lambda rows: any(r[1] > 1 for r in rows),
    "vocab_growth": lambda rows: len(rows) == 10,
}


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize(
    "lane,key", LANE_TWINS, ids=[f"{lane}-{key}" for lane, key in LANE_TWINS]
)
def test_lane_twins_collect_identically(spark, sf_dir, monkeypatch, lane, key):
    fn = all_queries()[key]
    # vocab_growth's scale lane: several position chunks at fixture scale
    monkeypatch.setattr(llm_text, "VOCAB_DOC_CHUNK", 7)
    rows = fn(spark, sf_dir).collect()
    small = sorted(repr(tuple(r)) for r in rows)
    monkeypatch.setitem(lanes.CEILINGS, lane, 0)
    assert small, f"{key}: the fixture must give the twin rows to compare"
    assert FIXTURE_GUARDS.get(key, bool)(rows), f"{key}: fixture guard"
    assert _rows(fn(spark, sf_dir)) == small, f"{key}: {lane} lanes differ"


def test_every_lane_has_a_twin():
    assert {lane for lane, _ in LANE_TWINS} == set(lanes.CEILINGS)


def test_registered_callables_take_no_size_hint():
    hinted = {
        name: list(inspect.signature(fn).parameters)
        for name, fn in all_queries().items()
        if any(re.fullmatch(r"n_\w*hint", p) for p in inspect.signature(fn).parameters)
    }
    assert not hinted, f"size hints come from the parquet footer: {hinted}"


def test_collect_within_bounds_the_probe(spark, monkeypatch):
    df = spark.range(3)
    monkeypatch.setitem(lanes.CEILINGS, "bpe_vocab_driver", 3)
    assert len(lanes.collect_within("bpe_vocab_driver", df)) == 3
    monkeypatch.setitem(lanes.CEILINGS, "bpe_vocab_driver", 2)
    assert lanes.collect_within("bpe_vocab_driver", df) is None
    # above Dataset.limit's int32 range the probe still runs, and a
    # relation longer than the clamped probe is never taken as whole
    monkeypatch.setitem(lanes.CEILINGS, "bpe_vocab_driver", 10**18)
    assert len(lanes.collect_within("bpe_vocab_driver", df)) == 3
    monkeypatch.setattr(lanes, "_LIMIT_MAX", 2)
    assert lanes.collect_within("bpe_vocab_driver", df) is None
