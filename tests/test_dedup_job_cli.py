"""dedup_job CLI flags exercised in-process (shares the test session):
the --compact-snapshots pre-pass must remove older warc_ts re-fetches
of a url BEFORE the pipeline, so they never appear in the output at all
(vs the default path, which keeps them and marks them duplicates).
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from jobs.dedup_job import main as job_main
from umi_dedup_spark.synth import make_pages


def _write_corpus_with_refetches(spark, tmp_path):
    pages = make_pages(n_docs=120, seed=7, hot_band_size=10).to_spark(spark)
    # re-fetch 5 urls: same url, NEWER warc_ts, different text bytes
    refetch = (
        pages.orderBy("url").limit(5)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("text", F.concat(F.col("text"), F.lit(" refetched tail")))
    )
    corpus = pages.unionByName(refetch)
    path = str(tmp_path / "pages")
    corpus.write.mode("overwrite").parquet(path)
    return path, pages.count(), refetch.count()


def test_compact_snapshots_flag(spark, tmp_path, capsys):
    in_path, n_base, n_refetch = _write_corpus_with_refetches(spark, tmp_path)

    rc = job_main([
        "--input", in_path,
        "--output", str(tmp_path / "out_compact"),
        "--compact-snapshots",
        "--shuffle-partitions", "8",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the 5 stale fetches are gone before the pipeline sees them
    assert summary["library"]["total"] == n_base

    marked = spark.read.parquet(str(tmp_path / "out_compact" / "marked"))
    assert marked.count() == n_base
    # every url appears exactly once (the newest fetch survived)
    assert marked.select("url").distinct().count() == n_base


def test_default_keeps_refetches(spark, tmp_path, capsys):
    in_path, n_base, n_refetch = _write_corpus_with_refetches(spark, tmp_path)
    rc = job_main([
        "--input", in_path,
        "--output", str(tmp_path / "out_plain"),
        "--shuffle-partitions", "8",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["library"]["total"] == n_base + n_refetch

    # one lineage row per non-empty (stage, partition), built from every
    # stage the run recorded, the lazy labels stage included; no bucket
    # overflows here, so the empty pairs_overflow stage has one row with
    # 0 rows and a null pid
    lineage = spark.read.parquet(str(tmp_path / "out_plain" / "lineage"))
    rows = {
        r["stage"]: r["rows"]
        for r in lineage.groupBy("stage").agg(F.sum("rows").alias("rows")).collect()
    }
    assert set(rows) == {
        "docs", "families", "pairs", "pairs_overflow", "edges", "labels",
        "clusters", "marked",
    }
    assert rows["pairs_overflow"] == 0
    empty = lineage.filter(F.col("stage") == "pairs_overflow").collect()
    assert [(r["pid"], r["rows"]) for r in empty] == [(None, 0)]
    assert rows["docs"] == rows["marked"] == n_base + n_refetch
