"""Test tiering (VERDICT r13 next #2).

The registry-wide sweeps (oracle parity x326, four degenerate-fixture
sweeps x326) outgrew the driver's pytest time cap: r13's fully-green
635-test suite ran ~1830 s and the driver's lane cut at ~78%, recording
tests_ok=false for a suite with zero failures. Default tier: every key
whose physical plan was rewritten in r13/r14 (the oracle-evidence gap
VERDICT r13 #3 names, plus every r14-touched key) and a deterministic
one-in-five name-hash breadth sample — ~100/326 keys. The sample depends
only on the key NAME and the modulus, so it is stable while the modulus
is. Changing the modulus rotates it: the sample was one-in-three (145
keys) until the modulus became 5, and md5 % 5 == 0 is not a subset of
md5 % 3 == 0, so keys left the sample that had been in it and others
joined. `SPARK_GRAFT_TEST_TIER=full`
runs the complete sweeps (the CI / release lane; used for the committed
green-run evidence in OPTIMIZATION_r14.md).
"""

from __future__ import annotations

import hashlib
import os

TIER = os.environ.get("SPARK_GRAFT_TEST_TIER", "core")

#: Plans rewritten by the r13/r14 optimization rounds — these run EVERY
#: invocation, whatever the tier.
CORE_ALWAYS = frozenset({
    # r13 graph driver-lane / shared-checkpoint family
    "frequent_pairs", "assoc_rules", "triangle_count", "local_clustering",
    "jaccard_neighbors", "pagerank_nations", "bfs_hops",
    "shortest_path_weighted", "connected_components", "label_propagation",
    "degree_assortativity", "graph_reciprocity",
    # r13 heavy rewrites without an r13 driver-oracle row
    "ngram_lm_score", "sync_fk_audit", "bpe_learn", "bpe_tokenize",
    "dedup_canonical", "dedup_clusters", "dedup_substring",
    "dedup_substring_excise", "pipeline_e2e", "contamination_check",
    "kmeans_spherical", "sim_ann_lsh", "sim_ann_ivf", "sim_ann_ivf_indexed",
    "sim_ann_ivf_pq", "embedding_quantize", "dedup_embedding",
    # r14 touched plans
    "join_interval", "winsorize_approx", "iqr_fences", "tail_cvar",
    "tfidf_topterms", "join_size_estimate", "data_skew_profile",
    "dq_expectations", "semantic_clusters",
    "stream_join_outer", "stream_sessionize_stateful", "stream_concurrency",
    "stream_interval_coverage", "stream_holt",
})


def in_default_tier(name: str) -> bool:
    if name in CORE_ALWAYS:
        return True
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % 5 == 0


def tier_keeps(name: str) -> bool:
    """True when this key runs under the current tier."""
    return TIER == "full" or in_default_tier(name)
