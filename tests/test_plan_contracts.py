"""Physical-plan contracts: the at-scale claims the engine documents are
asserted against ``executedPlan`` so a refactor cannot silently lose
them (broadcast stays broadcast, scans stay pruned, aggregates stay
partial, LSH joins stay equi-keyed).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from umi_dedup_spark import DedupConfig

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _run_counting_jobs(spark, fn):
    """Run ``fn``; return its result, the ids of the jobs it ran, and
    the shuffle records those jobs wrote (from the status store)."""
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()

    def job_ids():
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    out = fn()
    sc.listenerBus().waitUntilEmpty(60_000)
    new = job_ids() - before
    stages = set()
    for jid in new:
        ids = store.job(jid).stageIds()
        stages.update(ids.apply(k) for k in range(ids.size()))
    written = 0
    for sid in stages:
        try:
            written += store.lastStageAttempt(sid).shuffleWriteRecords()
        except Exception:  # a skipped stage never ran and is not stored
            pass
    return out, new, written


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_decontaminate_broadcasts_benchmark_grams(spark, docs):
    # the corpus side must never shuffle on the gram key: the (small)
    # benchmark gram set travels to the corpus as a broadcast
    from umi_dedup_spark.operators.decontaminate import ngram_contamination

    bench = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    plan = _plan(ngram_contamination(corpus, bench, k=8))
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_prepare_docs_scan_prunes_unused_columns(spark, docs, tmp_path):
    # a narrow projection must reach the parquet scan: a pages table
    # carries html/lang/url, but a consumer of (doc_key, norm_hash,
    # quality) reads only what those derive from
    from umi_dedup_spark.operators.exact import prepare_docs
    from umi_dedup_spark.synth import documents_to_pages

    pages_dir = str(tmp_path / "pages")
    documents_to_pages(docs).write.mode("overwrite").parquet(pages_dir)
    pq = spark.read.parquet(pages_dir)
    out = prepare_docs(pq).select("doc_key", "norm_hash", "quality")
    m = re.search(r"ReadSchema: (\S+)", _plan(out))
    assert m, "no ReadSchema in plan"
    read = m.group(1)
    assert "html" not in read and "lang" not in read, read


def test_semdedup_no_quadratic_join(spark):
    # cell id is the only exchange key; the within-cell pass must be an
    # equi-join on the cell, never a nested-loop over all vectors
    from umi_dedup_spark.operators.similarity import semdedup_mark

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(semdedup_mark(emb, n_cells=8, threshold=0.35,
                               centroid_ids=list(range(8))))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") <= 4, plan


def test_exact_families_aggregates_partially(spark, docs):
    # the families groupBy must have a map-side partial phase: the
    # exchange carries one candidate per family per map partition
    from umi_dedup_spark.operators.exact import exact_families, prepare_docs

    from umi_dedup_spark.synth import documents_to_pages

    plan = _plan(exact_families(prepare_docs(documents_to_pages(docs))))
    assert "partial_count" in plan or "partial_first" in plan, plan


def test_lsh_sql_mirror_is_equi_joined(spark):
    # the 4-band candidate join must stay a union of per-band EQUI-joins;
    # an OR-of-bands predicate would degrade to a nested-loop O(n^2)
    for t in entry_mod.TABLES:
        try:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").createOrReplaceTempView(t)
        except Exception:
            pass
    plan = _plan(spark.sql(entry_mod.SQL_QUERIES["minhash_lsh_pairs"]("s")))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_nation_revenue_broadcasts_dims_and_prunes_scan(spark):
    # dims (nation, region) must be broadcast, facts exchange on join
    # keys, no nested loop; the lineitem scan must prune to the 3
    # consumed columns
    df = entry_mod.OPERATOR_QUERIES["nation_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    scans = re.findall(r"ReadSchema: (\S+)", plan)
    li = [s for s in scans if "l_extendedprice" in s]
    assert li and all(
        "l_quantity" not in s and "l_tax" not in s and "l_returnflag" not in s
        for s in li
    ), scans


def test_order_priority_counts_semi_join_shape(spark):
    # existence check stays a semi join keyed on l_orderkey with the
    # date conjunct as a join condition — never a full join + distinct,
    # never a nested loop
    df = entry_mod.OPERATOR_QUERIES["order_priority_counts"](spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_edges_broadcast_small_stage_tables(spark):
    # a materialized stage keeps its size estimate, so the edge build's
    # joins against small families/pairs tables broadcast instead of
    # shuffling both sides into sort-merge joins
    from umi_dedup_spark.operators.directional import build_edges
    from umi_dedup_spark.plans.pipeline import DedupPipeline

    cfg = DedupConfig(shuffle_partitions=8)
    pipe = DedupPipeline(spark, cfg)
    fams = pipe._stage("families", lambda: spark.range(200).select(
        F.col("id").alias("norm_hash"),
        (F.col("id") % 5 + 1).alias("fam_count"),
        F.col("id").alias("fam_tb"),
        F.transform(F.sequence(F.lit(0), F.lit(cfg.num_perm - 1)),
                    lambda i: i + F.col("id")).alias("minhash"),
        (F.col("id") * 7919).alias("simhash"),
    ), resume=False)
    pairs = pipe._stage("pairs", lambda: spark.range(400).select(
        (F.col("id") % 200).alias("src"),
        ((F.col("id") * 7 + 1) % 200).alias("dst"),
        (F.col("id") % 3 == 0).alias("is_substring"),
    ), resume=False)
    assert pipe.stage_rows == {"families": 200, "pairs": 400}
    plan = _plan(build_edges(pairs, fams, cfg))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_candidate_pairs_is_one_bucket_aggregate(spark):
    # pairs come from one groupBy(bucket) aggregate and one (src, dst)
    # dedup: two shuffles, and no sort, window, join, interpreted array
    # sort or cached table in between
    from umi_dedup_spark.operators.lsh import candidate_pairs

    banded = spark.createDataFrame(
        [(0, 1, h, h % 3 + 1, h, h > 5) for h in range(8)]
        + [(1, 2, h, 1, h, False) for h in range(4)],
        "band_id int, band_hash long, norm_hash long, fam_count long, "
        "fam_tb long, is_substring boolean",
    )
    pairs, _ = candidate_pairs(banded, DedupConfig(max_bucket_families=4))
    pairs.collect()
    final = _plan(pairs).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    assert len(re.findall(r"(?<![A-Za-z])Exchange ", final)) == 2, final
    assert not re.search(r"\bSort", final), final
    for node in ("Window", "Join", "ArraySort", "array_sort", "InMemoryTableScan"):
        assert node not in final, final


def test_cc_round_never_shuffles_edge_table(spark):
    # E >> N: every round moves O(nodes) rows. The label table is the
    # broadcast side of the hop, so the edges are read in place and
    # never repartitioned; the per-node min aggregates map-side.
    from umi_dedup_spark.operators.cc import propagate_labels

    n, e = 100, 10_000
    nodes = spark.range(n).select(
        F.col("id").alias("fam"), F.lit(1).cast("long").alias("fam_count"),
        F.col("id").alias("fam_tb"),
    )
    # every (src, dst) pair once: the complete digraph on n nodes
    edges = spark.range(e).select(
        (F.col("id") % n).alias("src"), (F.col("id") / n).cast("long").alias("dst")
    )
    (labels, iters), _, written = _run_counting_jobs(
        spark, lambda: propagate_labels(nodes, edges)
    )
    assert labels.count() == n and iters >= 1
    assert written < e, written


@pytest.mark.parametrize("shape", ["empty", "zero_partitions", "one_shuffle"])
def test_stage_counts_rows_inside_its_checkpoint(spark, shape):
    # stage_rows comes from an Observation on the stage's own eager
    # checkpoint: _stage runs exactly the jobs a bare checkpoint runs
    from umi_dedup_spark.plans.pipeline import DedupPipeline

    def make():
        if shape == "empty":
            return spark.range(0)
        if shape == "zero_partitions":
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), "id long")
        return spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()

    _, bare, _ = _run_counting_jobs(spark, lambda: make().localCheckpoint(eager=True))
    pipe = DedupPipeline(spark, DedupConfig(shuffle_partitions=8))
    _, staged, _ = _run_counting_jobs(
        spark, lambda: pipe._stage(shape, make, resume=False)
    )
    assert pipe.stage_rows == {shape: 10 if shape == "one_shuffle" else 0}
    assert len(staged) == len(bare), (sorted(staged), sorted(bare))


def _marked_plan(spark, monkeypatch, algorithm):
    """The optimized plan of a pipeline run's ``marked`` stage, attribute
    ids normalized (``doc_key#123L`` -> ``doc_key#L``)."""
    from umi_dedup_spark.plans.pipeline import DedupPipeline
    from umi_dedup_spark.synth import make_pages

    plans = {}
    stage = DedupPipeline._stage

    def capture(self, name, df_fn, resume, materialize=True):
        def build():
            df = df_fn()
            plans[name] = df._jdf.queryExecution().optimizedPlan().toString()
            return df

        return stage(self, name, build, resume, materialize)

    monkeypatch.setattr(DedupPipeline, "_stage", capture)
    cfg = DedupConfig(shuffle_partitions=8, algorithm=algorithm, keyspace_size=2**16)
    DedupPipeline(spark, cfg).run(make_pages(n_docs=60, seed=3).to_spark(spark))
    return re.sub(r"#\d+", "#", plans["marked"])


# the naive marked stage: one min(struct) survivor+representative
# aggregate and its join back, between the exact-pass and text joins
NAIVE_MARKED_PLAN = """\
Project [doc_key#L, cluster_id#L, norm_hash#L, url#, warc_ts#, lang#, quality#, is_exact_duplicate#, is_duplicate#, rep_url#, text#]
+- Join LeftOuter, (doc_key#L = doc_key#L)
   :- Project [cluster_id#L, norm_hash#L, url#, warc_ts#, lang#, doc_key#L, quality#, is_exact_duplicate#, NOT (doc_key#L = _extract_dk#L) AS is_duplicate#, _extract_u# AS rep_url#]
   :  +- Join Inner, (cluster_id#L = cluster_id#L)
   :     :- Project [norm_hash#L, url#, warc_ts#, lang#, doc_key#L, quality#, is_exact_duplicate#, cluster_id#L]
   :     :  +- Join Inner, (norm_hash#L = norm_hash#L)
   :     :     :- Project [norm_hash#L, url#, warc_ts#, lang#, doc_key#L, quality#, NOT (doc_key#L = exact_survivor_key#L) AS is_exact_duplicate#]
   :     :     :  +- Join Inner, (norm_hash#L = norm_hash#L)
   :     :     :     :- LogicalRDD [url#, warc_ts#, lang#, doc_key#L, norm_hash#L, quality#], false
   :     :     :     +- Aggregate [norm_hash#L], [norm_hash#L, min(struct(nq, -quality#, dk, doc_key#L)).dk AS exact_survivor_key#L]
   :     :     :        +- Project [doc_key#L, norm_hash#L, quality#]
   :     :     :           +- LogicalRDD [url#, warc_ts#, lang#, doc_key#L, norm_hash#L, quality#], false
   :     :     +- Project [norm_hash#L, cluster_id#L]
   :     :        +- LogicalRDD [norm_hash#L, fam_count#L, fam_tb#L, minhash#, simhash#L, win_hashes#, cluster_id#L], false
   :     +- Project [cluster_id#L, best#.dk AS _extract_dk#L, best#.u AS _extract_u#]
   :        +- Aggregate [cluster_id#L], [cluster_id#L, min(struct(nq, -quality#, dk, doc_key#L, u, url#)) AS best#]
   :           +- Project [url#, doc_key#L, quality#, cluster_id#L]
   :              +- Join Inner, (norm_hash#L = norm_hash#L)
   :                 :- Project [norm_hash#L, url#, doc_key#L, quality#]
   :                 :  +- Join Inner, (norm_hash#L = norm_hash#L)
   :                 :     :- Project [url#, doc_key#L, norm_hash#L, quality#]
   :                 :     :  +- LogicalRDD [url#, warc_ts#, lang#, doc_key#L, norm_hash#L, quality#], false
   :                 :     +- Aggregate [norm_hash#L], [norm_hash#L]
   :                 :        +- Project [norm_hash#L]
   :                 :           +- LogicalRDD [url#, warc_ts#, lang#, doc_key#L, norm_hash#L, quality#], false
   :                 +- Project [norm_hash#L, cluster_id#L]
   :                    +- LogicalRDD [norm_hash#L, fam_count#L, fam_tb#L, minhash#, simhash#L, win_hashes#, cluster_id#L], false
   +- Aggregate [doc_key#L], [doc_key#L, min(text#) AS text#]
      +- LocalRelation [text#, doc_key#L]
"""


def test_naive_marked_plan_is_unchanged(spark, monkeypatch):
    assert _marked_plan(spark, monkeypatch, "naive") == NAIVE_MARKED_PLAN


def test_estimator_marked_plan_ranks_twice(spark, monkeypatch):
    # one bucketed rank for the families' +1 extras, one for the docs'
    # survivors; the representative never re-reads either
    plan = _marked_plan(spark, monkeypatch, "weighted_average2")
    assert len(re.findall(r"Window \[row_number\(\)", plan)) == 2, plan


def test_survivor_count_leaf_runs_the_estimator_once(spark):
    # the board leaf sums the survivor spec per cluster: one pandas
    # estimator evaluation, no rank window and no join back to families
    leaf = entry_mod.queries()["wa2_survivor_counts"](spark, SF_DIR)
    plan = leaf._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bFlatMapGroupsInPandas\b", plan)) == 1, plan
    assert not re.search(r"\b(Window|Join)\b", plan), plan
