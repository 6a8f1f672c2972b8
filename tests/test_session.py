"""Session sizing: the driver heap comes from the host's memory, and the
codegen class cache is large enough that re-running a pipeline in one
session reuses its compiled classes."""

from __future__ import annotations

import pytest

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
