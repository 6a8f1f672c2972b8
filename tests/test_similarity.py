"""Similarity-search operator tests: exact brute force, IVF recall and
SemDeDup marking."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from umi_dedup_spark.operators.similarity import (
    semdedup_mark,
    brute_force_topk,
    ivf_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def test_brute_force_topk_shape(emb, spark):
    q = emb.limit(5)
    out = brute_force_topk(q, emb, k=3)
    rows = out.collect()
    assert len(rows) == 15  # 5 queries x k=3
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3]
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rs)


def test_brute_force_matches_numpy(emb, spark):
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q = emb.filter(F.col("vec_id") == int(ids[0]))
    out = brute_force_topk(q, emb, k=5).collect()
    sims = mat @ mat[0]
    sims[0] = -np.inf
    top = ids[np.argsort(-sims)][:5]
    got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert set(got) == set(int(t) for t in top)


def test_ivf_recall_on_near_duplicate_regime(spark):
    """IVF with sampled centroids: planted near-dups land in the same (or
    a probed) Voronoi cell; top-1 recall >= 0.9."""
    rng = np.random.RandomState(1)
    rows = []
    vid = 0
    for i in range(80):
        v = rng.normal(size=32)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v])); vid += 1
        d = v + rng.normal(scale=0.08, size=32)
        d /= np.linalg.norm(d)
        rows.append((vid, [float(x) for x in d])); vid += 1
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb2.filter(F.col("vec_id") % 2 == 0)
    approx = ivf_topk(q, emb2, k=1, n_cells=16, nprobe=4).collect()
    hits = sum(1 for r in approx if r["neighbor_id"] == r["query_id"] + 1)
    assert hits / 80 >= 0.9, f"IVF near-dup recall {hits / 80}"


# ------------------------------------------------------------------ semdedup
def _vecs_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def test_semdedup_marks_near_duplicate_not_seed(spark):
    # two orthogonal centroids; 10/11 nearly identical near centroid 0,
    # 20 alone near centroid 1
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (10, [0.9, 0.4, 0.0]),
        (11, [0.9, 0.4, 0.001]),
        (20, [0.4, 0.9, 0.0]),
    ]
    out = semdedup_mark(
        _vecs_df(spark, rows), n_cells=2, threshold=0.95, centroid_ids=[0, 1]
    )
    got = {r["vec_id"]: r.asDict() for r in out.collect()}
    assert set(got) == {0, 1, 10, 11, 20}
    # 11 has lower-id near-twin 10 in its cell -> dup; 10's best lower
    # mate is the centroid-0 vector itself (cos = 0.9/sqrt(0.97) ~ 0.914
    # < 0.95) -> kept; same margin for 20 against centroid 1
    assert got[11]["is_semantic_dup"] is True
    assert got[10]["is_semantic_dup"] is False
    assert got[20]["is_semantic_dup"] is False
    # lowest id of each cell has no lower mate -> NULL best
    assert got[0]["best_lower_sim"] is None
    assert got[1]["best_lower_sim"] is None


def test_semdedup_matches_numpy_oracle(spark):
    rng = np.random.RandomState(7)
    n, d, k, t = 120, 16, 4, 0.5
    x = rng.randn(n, d)
    # plant 10 near-dup pairs
    for j in range(10):
        x[n - 1 - j] = x[j] + rng.randn(d) * 0.01
    rows = [(i, x[i].tolist()) for i in range(n)]
    out = semdedup_mark(
        _vecs_df(spark, rows), n_cells=k, threshold=t, centroid_ids=list(range(k))
    )
    got = {r["vec_id"]: (r["cell"], r["is_semantic_dup"]) for r in out.collect()}

    xf = np.stack([np.asarray(v, dtype=np.float64) for _, v in rows])
    xn = xf / np.linalg.norm(xf, axis=1, keepdims=True)
    cn = xn[:k]
    sims = np.round(xn @ cn.T, 9)
    # argmax with lowest-cid tie-break == argsort stable descending
    cells = np.argsort(-sims, axis=1, kind="stable")[:, 0]
    cos = np.round(xn @ xn.T, 6)
    for i in range(n):
        assert got[i][0] == cells[i], i
        lower = [j for j in range(i) if cells[j] == cells[i]]
        expect = bool(lower and max(cos[i][j] for j in lower) >= t)
        assert got[i][1] == expect, i
    # the planted twins actually exercised the dup path
    assert sum(d for _, d in got.values()) >= 10


def test_semdedup_auto_centroids_deterministic(spark):
    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(40)]
    df = _vecs_df(spark, rows)
    a = {r["vec_id"]: r.asDict() for r in semdedup_mark(df, n_cells=4, threshold=0.3).collect()}
    b = {r["vec_id"]: r.asDict() for r in semdedup_mark(df, n_cells=4, threshold=0.3).collect()}
    assert a == b
    assert len(a) == 40
