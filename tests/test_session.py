"""Session sizing: the driver heap comes from the host's memory, the
codegen class cache is large enough that re-running a pipeline in one
session reuses its compiled classes, and under-split scans are spread
across the task slots."""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from umi_dedup_spark import session
from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.plans.pipeline import DedupPipeline
from umi_dedup_spark.synth import make_pages

GIB = 1 << 30


@pytest.mark.parametrize(
    "host_bytes", [1, 1 << 20, 300 << 20, GIB, 15 * GIB + 123_456, 256 * GIB]
)
def test_driver_heap_never_exceeds_host_memory(host_bytes):
    heap_mb = session.driver_heap_mb(host_bytes)
    assert heap_mb >= 1
    if host_bytes >= 1 << 20:
        assert heap_mb << 20 <= host_bytes


def test_driver_heap_is_forty_percent_of_host():
    assert session.driver_heap_mb(16 * GIB) == int(16 * 1024 * 0.4)


def test_host_memory_honours_cgroup_limit(monkeypatch):
    monkeypatch.setattr(session, "_cgroup_mem_limit_bytes", lambda: GIB)
    assert session._host_mem_bytes() == GIB
    monkeypatch.setattr(session, "_cgroup_mem_limit_bytes", lambda: None)
    assert session._host_mem_bytes() > GIB // 2


def test_pretouched_heap_capped_at_max_heap(monkeypatch):
    monkeypatch.setattr(session, "_available_mem_bytes", lambda: 64 * GIB)
    monkeypatch.delenv("SPARK_DRIVER_JAVA_OPTS", raising=False)
    monkeypatch.setenv("SPARK_DRIVER_XMS", "8g")
    assert session._driver_java_opts(None, "2g") == "-Xms2048m -XX:+AlwaysPreTouch"
    monkeypatch.setenv("SPARK_DRIVER_XMS", "1g")
    assert session._driver_java_opts(None, "2g") == "-Xms1024m -XX:+AlwaysPreTouch"
    monkeypatch.setenv("SPARK_DRIVER_XMS", "0")
    assert session._driver_java_opts(None, "2g") == ""


@pytest.mark.parametrize(
    "text,nbytes",
    [("2g", 2 * GIB), ("512m", 512 << 20), ("4096", 4096), ("10485760b", 10 << 20),
     ("10MB", 10 << 20), ("1kb", 1024), ("-1", -1)],
)
def test_parse_size_bytes_reads_jvm_and_spark_sizes(text, nbytes):
    assert session.parse_size_bytes(text) == nbytes


def test_parse_size_bytes_rejects_fractions():
    with pytest.raises(ValueError):
        session.parse_size_bytes("1.5g")


def test_get_spark_sets_codegen_cache_cap(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_MAX_ENTRIES
    )


def _codegen_cache(spark):
    """Spark's compiled-class cache (private; reached by reflection so the
    test can start from an empty cache whatever ran before it)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None).loadingCache()


def test_pipeline_rerun_reuses_compiled_classes(spark):
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    corpus = make_pages(n_docs=150, seed=3, hot_band_size=20)
    cache = _codegen_cache(spark)
    cache.invalidateAll()

    def run_once() -> int:
        before = compiles.getCount()
        res = DedupPipeline(spark, DedupConfig(shuffle_partitions=8)).run(
            corpus.to_spark(spark)
        )
        res.marked.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        return compiles.getCount() - before

    first, second = run_once(), run_once()
    # every class the first run compiled is still cached for the second
    assert first > 100
    assert cache.size() >= first
    assert second <= 0.1 * first, (first, second)


def _n_exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_spread_small_scan_spreads_one_row_group(spark, tmp_path):
    path = str(tmp_path / "one_group.parquet")
    pq.write_table(pa.table({"id": list(range(1000))}), path)
    df = spark.read.parquet(path)
    slots = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() < slots
    out = session.spread_small_scan(df)
    assert out.rdd.getNumPartitions() == slots
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


@pytest.mark.parametrize("extra", [0, 3])
def test_spread_small_scan_keeps_split_input(spark, extra):
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, slots + extra)
    out = session.spread_small_scan(df)
    assert out is df
    assert _n_exchanges(out) == 0


def test_spread_small_scan_spreads_megabytes_in_one_row_group(spark, tmp_path, job_ids):
    # a one-row-group file larger than (slots - 1) x 256 KB: at Spark's
    # default split sizes it reads as fewer splits than slots, and the
    # spread widens it to every slot. A split floor that cut it into
    # `slots` splits, one of them non-empty, would make the spread decline.
    slots = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_group.parquet")
    rng = random.Random(7)
    rows = 3_000
    payload = [rng.randbytes(1_000) for _ in range(rows)]
    pq.write_table(pa.table({"id": list(range(rows)), "payload": payload}), path)
    assert pq.ParquetFile(path).metadata.num_row_groups == 1
    assert (slots - 1) << 18 < os.path.getsize(path) < (slots - 1) << 22
    df = spark.read.parquet(path)
    before = job_ids()
    out = session.spread_small_scan(df)
    assert job_ids() == before  # a plain read's partition count runs no job
    nonempty = out.groupBy(F.spark_partition_id()).count().count()
    assert nonempty == slots
    assert sorted(r["id"] for r in out.select("id").collect()) == list(range(rows))
