"""Estimator integration: the full pipeline under each estimator mode,
verifying survivor-count semantics end-to-end (reference pass 3,
``lib/markdup_sam.py:179-193``)."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.plans.pipeline import DedupPipeline
from umi_dedup_spark.synth import make_pages
from test_round3_hardening import _oracle_n_keep


@pytest.fixture(scope="module")
def corpus(spark):
    return make_pages(n_docs=150, seed=21)


@pytest.fixture(scope="module")
def naive_marked(spark, corpus):
    return DedupPipeline(spark, DedupConfig(shuffle_partitions=8)).run(
        corpus.to_spark(spark)
    ).marked


@pytest.mark.parametrize("algo", ["weighted_average", "weighted_average2", "cluster"])
def test_estimator_modes_run_and_bound_survivors(spark, corpus, naive_marked, algo):
    cfg = dataclasses.replace(
        DedupConfig(shuffle_partitions=8), algorithm=algo, keyspace_size=2**16
    )
    res = DedupPipeline(spark, cfg).run(corpus.to_spark(spark))
    marked = res.marked
    # the marked table's schema does not depend on the estimator
    assert marked.columns == naive_marked.columns, algo
    n = marked.count()
    survivors = marked.filter(~F.col("is_duplicate")).count()
    # clamp invariant per cluster: naive <= survivors <= total
    n_clusters = marked.select("cluster_id").distinct().count()
    n_families = marked.select("norm_hash").distinct().count()
    assert n_clusters <= survivors <= n, (algo, n_clusters, survivors, n)
    # per-family survivor cap: never keep more than the family has docs
    per_fam = (
        marked.groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.sum((~F.col("is_duplicate")).cast("long")).alias("kept"),
        )
        .filter(F.col("kept") > F.col("sz"))
        .count()
    )
    assert per_fam == 0
    # every family with >= 1 doc in a cluster still has its rows present
    assert marked.count() == n
    # every doc's rep_url is a non-duplicate member of its own cluster
    reps = marked.filter(~F.col("is_duplicate")).select(
        F.col("cluster_id").alias("c2"), F.col("url").alias("u2")
    )
    on = (F.col("cluster_id") == F.col("c2")) & (F.col("rep_url") == F.col("u2"))
    assert marked.join(reps, on, "left_anti").count() == 0
    if algo == "weighted_average2":
        # brute force: the family's n_keep from the estimator oracle, then
        # the first n_keep docs by (quality desc, doc_key asc) survive
        fams = res.clusters.select("cluster_id", "norm_hash", "fam_count", "fam_tb")
        n_keep = _oracle_n_keep(
            [tuple(r) for r in fams.collect()], algo, cfg.keyspace_size
        )
        by_family: dict[tuple, list] = {}
        for r in marked.select(
            "cluster_id", "norm_hash", "quality", "doc_key", "is_duplicate"
        ).collect():
            by_family.setdefault((r[0], r[1]), []).append(r)
        for fam, docs in by_family.items():
            docs.sort(key=lambda r: (-r["quality"], r["doc_key"]))
            for i, r in enumerate(docs):
                assert r["is_duplicate"] == (i >= n_keep[fam]), (fam, i, n_keep[fam])


def test_naive_keeps_exactly_one_per_cluster(naive_marked):
    bad = (
        naive_marked.groupBy("cluster_id")
        .agg(F.sum((~F.col("is_duplicate")).cast("long")).alias("kept"))
        .filter(F.col("kept") != 1)
        .count()
    )
    assert bad == 0
