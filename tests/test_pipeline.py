"""End-to-end golden tests on the deterministic synthetic corpus
(SURVEY.md §5 strategy item 3; FIXTURES.md F1 planted families)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.plans.pipeline import DedupPipeline
from umi_dedup_spark.synth import make_pages

CFG = DedupConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def corpus():
    return make_pages(n_docs=300, seed=42, hot_band_size=40)


@pytest.fixture(scope="module")
def result(spark, corpus):
    pages = corpus.to_spark(spark)
    pipe = DedupPipeline(spark, CFG)
    res = pipe.run(pages)
    res.marked.persist().count()
    return res


def _predicted_pairs(result):
    rows = result.marked.select("url", "cluster_id").collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r["url"])
    pairs = set()
    for urls in by_cluster.values():
        urls = sorted(urls)
        for i in range(len(urls)):
            for j in range(i + 1, len(urls)):
                pairs.add((urls[i], urls[j]))
    return pairs


def test_row_conservation(result, corpus):
    # C7 invariant (reference lib/markdup_sam.py:159): relabeling loses
    # no rows; every usable input doc appears exactly once in the output.
    assert result.marked.count() == len(corpus.rows)
    assert result.marked.select("url").distinct().count() == len(corpus.rows)


def test_every_doc_has_one_outcome(result):
    # invariant analog of markdup_sam.py:255 — outcome partition
    n = result.marked.count()
    n_rep = result.marked.filter(~F.col("is_duplicate")).count()
    n_dup = result.marked.filter(F.col("is_duplicate")).count()
    assert n_rep + n_dup == n
    assert n_rep > 0 and n_dup > 0


def test_planted_recall_and_precision(result, corpus):
    truth = corpus.truth_pairs()
    pred = _predicted_pairs(result)
    recall = len(truth & pred) / len(truth)
    precision = len(truth & pred) / max(len(pred), 1)
    assert recall >= 0.99, f"recall {recall:.4f}"
    assert precision >= 0.95, f"precision {precision:.4f}"


def test_exact_families_share_cluster(result, spark, corpus):
    # identical text => same cluster, always
    multi = (
        result.marked.groupBy("norm_hash")
        .agg(F.countDistinct("cluster_id").alias("nc"))
        .filter(F.col("nc") > 1)
        .count()
    )
    assert multi == 0


def test_rep_url_within_cluster(result):
    # every doc's rep_url is a non-duplicate member of its own cluster
    reps = result.marked.filter(~F.col("is_duplicate")).select(
        F.col("cluster_id").alias("c2"), F.col("url").alias("u2")
    )
    bad = (
        result.marked.join(
            reps,
            (F.col("cluster_id") == F.col("c2")) & (F.col("rep_url") == F.col("u2")),
            "left_anti",
        ).count()
    )
    assert bad == 0


def test_byte_identical_text(result, spark, corpus):
    # north-rule invariant: extracted text per url is byte-identical
    pages = corpus.to_spark(spark).select("url", F.col("text").alias("text_in"))
    joined = result.marked.join(pages, "url")
    assert joined.filter(F.col("text") != F.col("text_in")).count() == 0


def test_idempotence(spark, corpus, result):
    # dedup(survivors) finds nothing new to merge: every cluster is a singleton
    survivors = result.marked.filter(~F.col("is_duplicate")).select(
        "url", "warc_ts", "text", "lang"
    )
    res2 = DedupPipeline(spark, CFG).run(survivors)
    n = survivors.count()
    # allow the planted near-dup families to still merge (their members are
    # distinct texts kept as separate survivors only if estimator > naive);
    # with naive estimator each cluster keeps exactly 1, so re-run keeps all
    assert res2.marked.filter(~F.col("is_duplicate")).count() >= int(n * 0.98)


@pytest.mark.parametrize("algorithm", ["naive", "weighted_average2"])
def test_run_leaves_one_persisted_rdd_per_stage(spark, corpus, algorithm):
    # localCheckpoint blocks cannot be released through DataFrame.unpersist:
    # a run must leave exactly one persisted RDD per materialized stage plus
    # the final CC label table. Guards the cc.py loop sweep, and that no
    # operator persists on its own. Counted as new ids, so earlier tests'
    # tables don't count.
    jsc = spark.sparkContext._jsc

    def persisted():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    before = persisted()
    pipe = DedupPipeline(spark, DedupConfig(shuffle_partitions=8, algorithm=algorithm))
    pipe.run(corpus.to_spark(spark))
    stages = {"docs", "families", "pairs", "pairs_overflow", "edges", "clusters", "marked"}
    if algorithm != "naive":
        stages.add("survivor_spec")
    assert set(pipe.stage_rows) == stages
    assert len(persisted() - before) == len(pipe.stage_rows) + 1


def test_lineage_built_only_on_demand(spark, corpus, monkeypatch):
    # run() only records each stage's table; the per-partition lineage
    # plans are built when lineage() is asked for, once per stage
    import umi_dedup_spark.plans.pipeline as pl

    calls = []
    orig = pl.partition_lineage

    def counted(df, stage):
        calls.append(stage)
        return orig(df, stage)

    monkeypatch.setattr(pl, "partition_lineage", counted)
    pipe = DedupPipeline(spark, CFG)
    res = pipe.run(corpus.to_spark(spark))
    assert calls == []
    lineage = pipe.lineage()
    assert calls == list(res.stage_times)
    rows = {
        r["stage"]: r["rows"]
        for r in lineage.groupBy("stage").agg(F.sum("rows").alias("rows")).collect()
    }
    # an empty stage (no overflow bucket here) still has its one 0-row line
    assert set(rows) == set(res.stage_times)
    assert {s: rows.get(s, 0) for s in pipe.stage_rows} == pipe.stage_rows
