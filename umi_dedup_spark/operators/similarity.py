"""Similarity search over embedding columns (training-data-pipeline op).

Two top-k paths, plus :func:`semdedup_mark`:
* :func:`brute_force_topk` — exact cosine top-k, all JVM-side
  (``zip_with`` + ``aggregate`` higher-order functions, no Python):
  the correctness baseline. Cross join is broadcast on the (small)
  query side; cost O(|queries| * |corpus|) — fine for verification,
  not the scale path.
* :func:`ivf_topk` — inverted-file approximate top-k: corpus vectors
  get one centroid cell, queries probe their ``nprobe`` nearest cells,
  and candidates are re-ranked by exact cosine. Scale path: shuffled
  bytes scale with nprobe/n_cells of the corpus per query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from umi_dedup_spark.session import spread_small_scan


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a, b):
    """JVM-side cosine similarity of two array<float> columns."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (self excluded).

    Cost shape (r6): norms are computed once per ROW before the join
    rather than once per pair — cos = dot(q,c) / (|q| * |c|) is the
    identical IEEE expression (division by the product of the same two
    sqrt doubles), but the |queries| * |corpus| pair stream now
    evaluates ONE interpreted higher-order-function dot product instead
    of three (measured at 20k vectors x 10 queries: 3.58s -> 1.69s).
    Unrolling the dot into element_at chains was measured SLOWER (8s:
    a 64-term expression tree defeats whole-stage codegen), so the HOF
    dot stays."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("_qn", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    # a one-row-group corpus would run the |queries| x |corpus|
    # interpreted-HOF scoring loop on one core: spread the probe side
    c = spread_small_scan(c)
    c = c.withColumn("_cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def make_cell_udf(centroids: np.ndarray, nprobe: int):
    """pandas_udf: embedding -> array of the nprobe nearest centroid ids
    (cosine). ``centroids`` is a broadcast-constant (n_cells, dim) matrix,
    L2-normalized here once; the batch body is one matmul + a stable
    argsort. Sims are rounded to 9dp and ties broken by LOWEST cell id so
    assignment is reproducible across engines (the DuckDB oracle ranks by
    ``round(sim, 9) DESC, cid ASC``).
    """
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cell_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = np.round(x @ cn.T, 9)  # (n, n_cells)
        p = min(nprobe, sims.shape[1])
        top = np.argsort(-sims, axis=1, kind="stable")[:, :p].astype(np.int32)
        return pd.Series(list(top))

    return cell_udf


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10,
    n_cells: int = 64, nprobe: int = 8, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is partitioned
    into Voronoi cells around sampled centroids; each query probes its
    ``nprobe`` nearest cells and re-ranks exactly within them.

    Scale shape: centroids are a deterministic hash-ordered SAMPLE of the
    corpus (one small collect, broadcast to workers — no iterative k-means
    job); corpus rows get ONE cell id (narrow shuffle on cell), queries
    explode to nprobe cells, and the join is an equi-join on the cell id.
    Shuffled bytes scale with nprobe/n_cells of the corpus per query
    rather than the full corpus (brute force).
    """
    # deterministic centroid sample: explicit ids when given (cell index =
    # rank of the id — SQL-mirrorable), else smallest xxhash64(vec_id, seed)
    if centroid_ids is not None:
        cent_rows = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .filter(F.col(id_col).isin(list(centroid_ids)))
            .orderBy(id_col)
            .collect()
        )
        if len(cent_rows) != len(centroid_ids):
            missing = sorted(set(centroid_ids) - {r[0] for r in cent_rows})
            raise ValueError(
                f"ivf_topk: centroid_ids not found in {id_col}: "
                f"{missing} — cell indices would silently shift"
            )
    else:
        cent_rows = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .withColumn("_h", F.xxhash64(F.col(id_col), F.lit(seed)))
            .orderBy("_h")
            .limit(n_cells)
            .collect()
        )
    centroids = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in cent_rows])

    assign1 = make_cell_udf(centroids, 1)
    assignp = make_cell_udf(centroids, nprobe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(assignp(F.col(vec_col))).alias("cell"),
    )
    cand = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def semdedup_mark(
    vectors: DataFrame,
    n_cells: int = 8,
    threshold: float = 0.35,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_ids: list[int] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup over an embedding column
    (Abbas et al. 2023, arXiv:2303.09540): partition the corpus into
    ``n_cells`` centroid cells, then inside each cell mark a vector a
    *semantic duplicate* when some LOWER-id cellmate has cosine
    similarity >= threshold (keep-lowest-id = the deterministic stand-in
    for SemDeDup's keep-one-per-group rule; the reference analog is the
    directional "count-ordered seed keeps, rest marked" pass,
    ``lib/markdup_sam.py:134-146``).

    Returns one row per vector: ``(id_col, cell, best_lower_sim,
    is_semantic_dup)``; ``best_lower_sim`` is NULL for the lowest id in
    its cell. Similarities are rounded to 6dp BEFORE the max/threshold,
    so the boundary decision is identical across engines.

    Scale shape: this IS the published algorithm's cost model — k-means
    with n_cells ∝ n bounds cell size, the within-cell pairwise pass is
    quadratic in the (bounded) cell, and the cell id is an equi-join
    key, so the shuffle is one exchange on cell. Centroids are a
    broadcast constant (deterministic id sample here — explicit
    ``centroid_ids`` makes the assignment SQL-mirrorable; a real run
    would pass k-means centroids in the same shape). AQE skew-split
    handles an over-dense cell's join skew.
    """
    if centroid_ids is not None:
        cent_rows = (
            vectors.select(F.col(id_col), F.col(vec_col))
            .filter(F.col(id_col).isin(list(centroid_ids)))
            .orderBy(id_col)
            .collect()
        )
        if len(cent_rows) != len(centroid_ids):
            missing = sorted(set(centroid_ids) - {r[0] for r in cent_rows})
            raise ValueError(
                f"semdedup_mark: centroid_ids not found in {id_col}: "
                f"{missing} — cell indices would silently shift"
            )
    else:
        cent_rows = (
            vectors.select(F.col(id_col), F.col(vec_col))
            .withColumn("_h", F.xxhash64(F.col(id_col), F.lit(seed)))
            .orderBy("_h")
            .limit(n_cells)
            .collect()
        )
    centroids = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in cent_rows])

    assign1 = make_cell_udf(centroids, 1)
    assigned = vectors.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    )
    lo = assigned.select(
        F.col(id_col).alias("_lo_id"), F.col("v").alias("lv"), "cell"
    )
    hi = assigned.select(
        F.col(id_col).alias("_hi_id"), F.col("v").alias("hv"), "cell"
    )
    best = (
        hi.join(lo, "cell")
        .filter(F.col("_lo_id") < F.col("_hi_id"))
        .groupBy("_hi_id")
        .agg(F.max(F.round(cosine(F.col("hv"), F.col("lv")), 6)).alias("best_lower_sim"))
    )
    return (
        assigned.select(id_col, "cell")
        .join(best, F.col(id_col) == F.col("_hi_id"), "left")
        .select(
            F.col(id_col),
            "cell",
            "best_lower_sim",
            F.coalesce(
                F.col("best_lower_sim") >= F.lit(threshold), F.lit(False)
            ).alias("is_semantic_dup"),
        )
    )
