"""Cluster-equivalence: Spark label propagation == pure-Python oracle
(reference ClusterAndReducer semantics, deterministic variant).

Exercises the SURVEY.md §7 adversarial cases: directional chains
(counts 9->5->3), boundary failures (9 vs 6: 9 < 2*6-1), overlapping
reachability forcing C4 unique assignment, all-count-1 chains, ties.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from umi_dedup_spark import oracle
from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.operators.cc import (
    LABEL_ROW_BYTES,
    labels_fit_broadcast,
    propagate_labels,
)
from umi_dedup_spark.operators.directional import build_edges


def spark_cluster(spark, nodes, counts, tb, near_pairs):
    """Run the distributed clustering on an explicit near-relation."""
    node_rows = [(n, counts[n], tb[n]) for n in nodes]
    ndf = spark.createDataFrame(node_rows, "fam long, fam_count long, fam_tb long")
    edge_rows = []
    for a, b in near_pairs:
        if counts[a] >= 2 * counts[b] - 1:
            edge_rows.append((a, b))
        if counts[b] >= 2 * counts[a] - 1:
            edge_rows.append((b, a))
    edf = spark.createDataFrame(edge_rows or [(None, None)], "src long, dst long").filter(
        F.col("src").isNotNull()
    )
    labels, _ = propagate_labels(ndf, edf)
    got = {r["fam"]: r["cluster_id"] for r in labels.collect()}
    return got


def oracle_cluster(nodes, counts, tb, near_pairs):
    near_set = set()
    for a, b in near_pairs:
        near_set.add((a, b))
        near_set.add((b, a))
    return oracle.cluster_bundle(
        list(nodes), counts, tb, lambda a, b: (a, b) in near_set
    )


CASES = [
    # (counts per node, near pairs)
    ({1: 9, 2: 5, 3: 3}, [(1, 2), (2, 3)]),              # directional chain
    ({1: 9, 2: 6}, [(1, 2)]),                            # boundary fail: no edge
    ({1: 9, 2: 5}, [(1, 2)]),                            # boundary pass: 9 == 2*5-1
    ({1: 10, 2: 10, 3: 1}, [(1, 3), (2, 3)]),            # overlap -> C4 unique assignment
    ({1: 1, 2: 1, 3: 1, 4: 1}, [(1, 2), (2, 3), (3, 4)]),  # all-count-1 chain
    ({1: 100, 2: 50, 3: 25, 4: 12}, [(1, 2), (2, 3), (3, 4)]),  # halving chain
    ({1: 5, 2: 4}, [(1, 2)]),                            # neither direction passes
    ({1: 7, 2: 7}, [(1, 2)]),                            # equal counts >1: no edge
    ({1: 20, 2: 3, 3: 2, 4: 20}, [(1, 2), (2, 3), (4, 3)]),  # two seeds, shared tail
    ({}, []),                                            # empty
    ({1: 4}, []),                                        # singleton (C9)
]


@pytest.mark.parametrize("counts,near", CASES)
def test_equivalence_fixed_cases(spark, counts, near):
    nodes = list(counts)
    tb = {n: n for n in nodes}
    want = oracle_cluster(nodes, counts, tb, near)
    got = spark_cluster(spark, nodes, counts, tb, near)
    # singletons: oracle maps to self; spark labels map to self too
    assert got == want if nodes else got == {}


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(2, 8),
    count_seed=st.integers(0, 10**6),
    edge_seed=st.integers(0, 10**6),
)
def test_equivalence_random_graphs(spark, n, count_seed, edge_seed):
    import random

    rc = random.Random(count_seed)
    re_ = random.Random(edge_seed)
    nodes = list(range(1, n + 1))
    counts = {i: rc.choice([1, 1, 2, 3, 5, 9, 20, 50]) for i in nodes}
    tb = {i: i for i in nodes}
    all_pairs = list(itertools.combinations(nodes, 2))
    near = [p for p in all_pairs if re_.random() < 0.4]
    want = oracle_cluster(nodes, counts, tb, near)
    got = spark_cluster(spark, nodes, counts, tb, near)
    assert got == want


def test_permutation_invariance(spark):
    # SURVEY §5 item 4: cluster assignment independent of input order
    counts = {1: 9, 2: 5, 3: 3, 4: 1, 5: 1}
    near = [(1, 2), (2, 3), (4, 5)]
    tb = {n: n for n in counts}
    base = None
    for perm_nodes in (list(counts), list(reversed(list(counts)))):
        got = spark_cluster(spark, perm_nodes, counts, tb, near)
        if base is None:
            base = got
        assert got == base


@pytest.mark.parametrize("counts,near", CASES)
def test_equivalence_without_broadcast(spark, join_threshold, counts, near):
    # broadcasting disabled: the loop gives no join hint and the planner
    # shuffles the edges itself; the answer must not change
    with join_threshold("-1"):
        assert not labels_fit_broadcast(spark, len(counts))
        test_equivalence_fixed_cases(spark, counts, near)


def test_labels_broadcast_decision_at_threshold(spark, join_threshold):
    with join_threshold(str(100 * LABEL_ROW_BYTES)):
        assert labels_fit_broadcast(spark, 100)
        assert not labels_fit_broadcast(spark, 101)
    with join_threshold("-1"):
        assert not labels_fit_broadcast(spark, 0)


# -- build_edges itself: the directed-edge predicate over candidate pairs --

NUM_PERM = 64


def _expected_edges(count_a, count_b, sim_dist, mh_agree, is_substring, cfg):
    """The build_edges predicate, computed in Python for the pair (1, 2)."""
    near = (
        is_substring
        or sim_dist <= cfg.hamming_threshold
        or mh_agree / NUM_PERM >= cfg.jaccard_threshold
    )
    out = []
    if near and count_a >= 2 * count_b - 1:
        out.append((1, 2))
    if near and count_b >= 2 * count_a - 1:
        out.append((2, 1))
    return sorted(out)


# (count_a, count_b, simhash distance, equal minhash positions of 64,
#  is_substring, expected directed edges)
EDGE_CASES = {
    "9_vs_5_passes": (9, 5, 0, 64, False, [(1, 2)]),
    "9_vs_6_no_edge": (9, 6, 0, 64, False, []),
    "1_and_1_both_directions": (1, 1, 2, 0, False, [(1, 2), (2, 1)]),
    "7_and_7_no_edge": (7, 7, 0, 64, False, []),
    "substring_bypasses_simhash_gate": (9, 5, 10, 0, True, [(1, 2)]),
    "minhash_jaccard_alone": (1, 1, 10, 40, False, [(1, 2), (2, 1)]),
    "no_gate_passes": (1, 1, 10, 20, False, []),
}


@pytest.mark.parametrize("case", list(EDGE_CASES), ids=list(EDGE_CASES))
def test_build_edges_matches_python_predicate(spark, case):
    count_a, count_b, sim_dist, mh_agree, is_substring, expected = EDGE_CASES[case]
    cfg = DedupConfig()
    assert cfg.num_perm == NUM_PERM
    mh_a = list(range(NUM_PERM))
    mh_b = mh_a[:mh_agree] + [v + 1000 for v in mh_a[mh_agree:]]
    fams = spark.createDataFrame(
        [(1, count_a, 1, mh_a, 0), (2, count_b, 2, mh_b, (1 << sim_dist) - 1)],
        "norm_hash long, fam_count long, fam_tb long, minhash array<long>, simhash long",
    )
    pairs = spark.createDataFrame(
        [(1, 2, is_substring)], "src long, dst long, is_substring boolean"
    )
    # a list, not a set: a dropped or duplicated direction must show
    got = sorted((r["src"], r["dst"]) for r in build_edges(pairs, fams, cfg).collect())
    want = _expected_edges(count_a, count_b, sim_dist, mh_agree, is_substring, cfg)
    assert want == expected
    assert got == want
