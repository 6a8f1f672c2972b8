"""Round-3 hardening tests.

* Skew-safe survivor assignment: `cluster_survivor_counts` must produce
  exactly the same n_keep as a brute-force per-cluster oracle (estimate ->
  apportion -> +1 to the n_extra smallest by (fam_tb, norm_hash)), while
  its plan never ranks over a raw (cluster_id, fam_count) window — the
  rank (``rank_in_buckets``) is split across contiguous fam_tb range
  buckets so one hot equal-count cluster cannot become a single sorting
  task.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from umi_dedup_spark.operators.estimators import (
    apportion_hist,
    cluster_survivor_counts,
    estimate_from_hist,
    survivor_spec,
)


def _oracle_n_keep(rows, algorithm, keyspace):
    """Brute-force spec: per cluster, histogram estimate + apportion, then
    +1 to the n_extra smallest members of each count value by
    (fam_tb asc, norm_hash asc)."""
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r[0], []).append(r)
    want = {}
    for cid, members in by_cluster.items():
        hist: dict[int, int] = {}
        for _, _, fc, _ in members:
            hist[fc] = hist.get(fc, 0) + 1
        values = np.array(sorted(hist), dtype=np.int64)
        mults = np.array([hist[int(v)] for v in values], dtype=np.int64)
        est = estimate_from_hist(values, mults, keyspace, algorithm)
        n_fams = int(mults.sum())
        total = int((values * mults).sum())
        target = int(min(max(est, n_fams), total))
        base, extra = apportion_hist(values, mults, target)
        for v, b, e in zip(values, base, extra):
            group = sorted(
                (m for m in members if m[2] == int(v)),
                key=lambda m: (m[3], m[1]),  # (fam_tb, norm_hash)
            )
            for i, m in enumerate(group):
                want[(cid, m[1])] = int(b) + (1 if i < int(e) else 0)
    return want


def _run_and_compare(spark, rows, algorithm="weighted_average", keyspace=2000,
                     n_range_buckets=8):
    df = spark.createDataFrame(
        rows, "cluster_id long, norm_hash long, fam_count long, fam_tb long"
    )
    got_df = cluster_survivor_counts(
        df, survivor_spec(df, algorithm, keyspace), n_range_buckets=n_range_buckets
    )
    got = {(r["cluster_id"], r["norm_hash"]): r["n_keep"] for r in got_df.collect()}
    want = _oracle_n_keep(rows, algorithm, keyspace)
    assert got == want
    return got_df


def test_survivor_counts_hot_equal_count_cluster(spark):
    """One hot cluster: 600 count-1 + 400 count-3 families (weighted_average
    target=1300 -> the count-3 value ends at keep_base=1 with n_extra=300),
    fam_tb spanning negative and positive int64 (sign-bit bucket order)."""
    rng = random.Random(7)
    rows = []
    for i in range(1000):
        fc = 1 if i < 600 else 3
        rows.append((1, 10_000 + i, fc, rng.randint(-(2**62), 2**62)))
    # small side clusters with assorted shapes
    rows += [(2, 1, 4, -5), (2, 2, 4, 5), (2, 3, 1, 0)]
    rows += [(3, 7, 2, 2**61), (3, 8, 2, -(2**61))]
    got_df = _run_and_compare(spark, rows)

    plan = got_df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_bucket0#" in line, f"rank window not range-bucketed: {line}"


@pytest.mark.parametrize("algorithm", ["naive", "weighted_average", "weighted_average2"])
def test_survivor_counts_randomized_vs_oracle(spark, algorithm):
    rng = random.Random(13)
    rows = []
    nh = 0
    for cid in range(12):
        n_vals = rng.randint(1, 4)
        for v in rng.sample(range(1, 9), n_vals):
            for _ in range(rng.randint(1, 20)):
                nh += 1
                rows.append((cid, nh, v, rng.randint(-(2**63) + 1, 2**63 - 1)))
    _run_and_compare(spark, rows, algorithm=algorithm, keyspace=512,
                     n_range_buckets=4)


def test_fused_survivor_rep_equals_two_step(spark):
    """mark_survivors_and_rep == mark_survivors(n_keep=1) -> attach_rep_url
    on the naive path: the fused min-struct survivor equals the bucketed
    rank's first doc, and the survivor IS the representative."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.operators.representative import (
        attach_rep_url,
        mark_survivors,
        mark_survivors_and_rep,
    )

    rng = random.Random(21)
    rows = []
    for cid in range(8):
        for i in range(rng.randint(1, 12)):
            rows.append(
                (cid, cid * 100 + i, f"u{cid}-{i}",
                 round(rng.random(), 6), rng.randint(0, 3))
            )
    df = spark.createDataFrame(
        rows, "cluster_id long, doc_key long, url string, quality double, x long"
    )
    cols = ["cluster_id", "doc_key", "url", "quality", "x",
            "is_duplicate", "rep_url"]
    fused = {tuple(r) for r in mark_survivors_and_rep(df).select(*cols).collect()}
    two_step = {
        tuple(r)
        for r in attach_rep_url(
            mark_survivors(df.withColumn("n_keep", F.lit(1)), "n_keep")
        ).select(*cols).collect()
    }
    assert fused == two_step


def test_mark_survivors_nkeep_bucketed_vs_bruteforce(spark):
    """The bucketed n_keep>1 survivor path == brute force (global
    (quality desc, doc_key asc) sort per family, first n_keep survive),
    including quality ties, negative doc_keys, and n_keep at group
    boundaries; the rank window must be doc_key-range-bucketed."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.operators.representative import mark_survivors

    rng = random.Random(33)
    rows = []
    for cid in range(3):
        for fam in range(4):
            n = rng.randint(1, 30)
            n_keep = rng.randint(1, n)
            qs = [round(rng.choice([0.2, 0.5, 0.9]), 6) for _ in range(n)]
            for q in qs:
                rows.append(
                    (cid, fam, rng.randint(-(2**62), 2**62), q, n_keep)
                )
    df = spark.createDataFrame(
        rows,
        "cluster_id long, norm_hash long, doc_key long, quality double, n_keep long",
    )
    out = mark_survivors(
        df, "n_keep", partition_cols=("cluster_id", "norm_hash"),
        n_range_buckets=4,
    )
    got = {
        (r["cluster_id"], r["norm_hash"], r["doc_key"]): r["is_duplicate"]
        for r in out.collect()
    }
    groups: dict[tuple, list] = {}
    for cid, fam, dk, q, nk in rows:
        groups.setdefault((cid, fam, nk), []).append((q, dk))
    want = {}
    for (cid, fam, nk), members in groups.items():
        members.sort(key=lambda m: (-m[0], m[1]))
        for i, (q, dk) in enumerate(members):
            want[(cid, fam, dk)] = i >= nk
    assert got == want

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_bucket1#" in line, f"rank window not range-bucketed: {line}"


def test_survivor_counts_n_extra_zero_skips_window(spark, monkeypatch):
    """A cluster that apportions evenly (naive: every family keeps 1) takes
    the no-window branch; results still exact."""
    import umi_dedup_spark.operators.estimators as est

    ranked_inputs = []
    rank = est.rank_in_buckets

    def spy(df, *args):
        ranked_inputs.append(df)
        return rank(df, *args)

    monkeypatch.setattr(est, "rank_in_buckets", spy)
    rows = [(1, i, 2, i * 17 % 1000 - 500) for i in range(50)]
    got_df = _run_and_compare(spark, rows, algorithm="naive")
    plan = got_df._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan  # branch exists in the plan ...
    # ... but the data all flows through the n_extra==0 projection: every
    # n_keep is exactly 1 and the ranked branch gets no rows
    assert len(ranked_inputs) == 1
    assert ranked_inputs[0].count() == 0
