"""Checkpoint/resume (M7, north rule): kill after a mid stage, rerun,
assert identical final clusters and that pre-kill stages were not
recomputed (manifest timestamps unchanged)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.io import read_manifest, write_table
from umi_dedup_spark.plans.pipeline import DedupPipeline
from umi_dedup_spark.synth import make_pages

CFG = DedupConfig(shuffle_partitions=8)


def _cluster_map(res):
    return {
        r["url"]: (r["cluster_id"], r["is_duplicate"])
        for r in res.marked.select("url", "cluster_id", "is_duplicate").collect()
    }


def test_resume_identical_and_no_recompute(spark, tmp_path):
    corpus = make_pages(n_docs=120, seed=9)
    pages = corpus.to_spark(spark)
    ckpt = str(tmp_path / "ckpt")

    # full run with checkpoints
    pipe1 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt)
    res1 = pipe1.run(pages)
    want = _cluster_map(res1)

    # durable stages count their rows as in-memory stages do
    mem = DedupPipeline(spark, CFG)
    mem.run(pages)
    assert len(mem.stage_rows) == 7
    assert {s: pipe1.stage_rows.get(s) for s in mem.stage_rows} == mem.stage_rows

    # simulate a crash after 'pairs': delete every later stage snapshot
    for stage in ("edges", "labels", "clusters", "marked"):
        p = os.path.join(ckpt, stage)
        if os.path.exists(p):
            import shutil

            shutil.rmtree(p)

    mtimes_before = {
        s: os.path.getmtime(os.path.join(ckpt, s, "_manifest.json"))
        for s in ("docs", "families", "pairs")
    }

    pipe2 = DedupPipeline(spark, CFG, checkpoint_dir=ckpt)
    res2 = pipe2.run(pages, resume=True)
    got = _cluster_map(res2)
    assert got == want

    for s, t in mtimes_before.items():
        assert os.path.getmtime(os.path.join(ckpt, s, "_manifest.json")) == t, (
            f"stage {s} was recomputed on resume"
        )
    # manifests carry provenance (config + row counts)
    mf = read_manifest(os.path.join(ckpt, "families"))
    assert mf["complete"] and mf["rows"] > 0 and mf["config"]["shingle_k"] == CFG.shingle_k
    # resumed stages report the rows their manifests recorded, recomputed
    # ones the rows they wrote again
    assert pipe2.stage_rows == pipe1.stage_rows


def test_write_table_runs_no_more_jobs_than_a_bare_write(spark, tmp_path, job_ids):
    # the manifest's row count rides the write job instead of a read-back
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    before = job_ids()
    df.write.parquet(str(tmp_path / "bare"))
    bare = len(job_ids() - before)
    path = str(tmp_path / "stage")
    before = job_ids()
    n = write_table(df, path, stage="families", config=CFG)
    assert len(job_ids() - before) <= bare
    assert n == read_manifest(path)["rows"] == 7
