"""SparkSession factory: Arrow on, AQE on, skew-join on.

Local mode stands in for the multi-executor cluster; partitioning choices
below are made for the cluster case (SURVEY.md §4).

Scan parallelism has one mechanism, :func:`spread_small_scan`, applied
once per input directly over its read. ``get_spark`` sets no
``spark.sql.files.*`` option, so file scans split by Spark's defaults:
split size min(128 MB, max(4 MB open cost, total bytes /
``defaultParallelism``)). A parquet file written as one row group reads
as one non-empty split however many splits it is cut into, so more
splits cannot widen it; the spread does.
"""

from __future__ import annotations

import os
import re

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame, SparkSession


_DRIVER_OPTS_KEY = "spark.driver.extraJavaOptions"


# Fraction of host memory one driver JVM's heap may take: leaves room for
# a second JVM (the spark-submit test), the Python UDF workers and the
# JVM's off-heap use on the same host.
_HEAP_HOST_FRACTION = 0.4

# Compiled-class cache size (static conf spark.sql.codegen.cache.maxEntries;
# Spark's default of 100 is smaller than one pipeline run, so a rerun in
# the same session recompiled everything). Measured on a 4-CPU host,
# local[4], cap raised to 5000, counting CodegenMetrics compiles from a
# cold JVM, with the stage id kept out of class names (as get_spark
# sets): the full __spark_entry__.queries() table on sf0.01 compiles
# 574 classes; one pipeline run on make_pages(300) compiles 207 (naive),
# 288 (weighted_average), 290 (weighted_average2) and 291 (cluster), each
# in its own JVM. Sum 1,650; the cap is over twice that. (All five in one
# session compile 747 distinct classes; a second pass then adds 10.)
CODEGEN_CACHE_MAX_ENTRIES = 4000


def _cgroup_mem_limit_bytes() -> int | None:
    """The cgroup memory limit (v2 memory.max, else v1
    memory.limit_in_bytes); None when unlimited or unreadable."""
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            return int(raw)
    return None


def _host_mem_bytes() -> int:
    """min(MemTotal, cgroup memory limit): the memory this process can get."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit = _cgroup_mem_limit_bytes()
    return min(total, limit) if limit else total


def driver_heap_mb(host_mem_bytes: int) -> int:
    """Default driver heap (-Xmx) in MiB: ``_HEAP_HOST_FRACTION`` of the
    host's memory, at least 1 MiB, never more than the host has."""
    return max(1, int(host_mem_bytes * _HEAP_HOST_FRACTION) >> 20)


def _available_mem_bytes() -> int | None:
    """MemAvailable from /proc/meminfo (Linux); None if unreadable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


_SIZE_UNITS = {
    "": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50,
}


def parse_size_bytes(s: str) -> int:
    """Bytes in a JVM (``512m``) or Spark (``10485760b``, ``10MB``, ``-1``)
    size string; a negative value passes through (Spark's "disabled")."""
    m = re.fullmatch(r"(-?\d+)([kmgtp]?)b?", s.strip().lower())
    if not m:
        raise ValueError(f"not a size string: {s!r}")
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)]


def broadcast_row_cap(spark: SparkSession, row_bytes: int) -> int | None:
    """Most rows of ``row_bytes`` each that fit the session's
    ``spark.sql.autoBroadcastJoinThreshold``; None when the threshold is
    negative (broadcasting disabled: the planner chooses every join)."""
    threshold = parse_size_bytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    return None if threshold < 0 else threshold // row_bytes


def _driver_java_opts(extra_conf: dict[str, str] | None, heap: str) -> str:
    """Compose the pre-touch defaults with caller-supplied JVM opts.

    The Xms/AlwaysPreTouch pair is only injected when the host has
    comfortably more available memory than the Xms target (1.5x headroom)
    — on a small host the un-touched lazy heap is strictly safer. Xms is
    capped at the heap size ``heap`` (a JVM refuses Xms > Xmx).
    SPARK_DRIVER_XMS=0 disables the pre-touch explicitly.
    """
    xms = os.environ.get("SPARK_DRIVER_XMS", "8g")
    parts = []
    if xms not in ("0", "", "none"):
        xms_bytes = min(parse_size_bytes(xms), parse_size_bytes(heap))
        avail = _available_mem_bytes()
        if avail is None or avail >= int(xms_bytes * 1.5):
            parts.append(f"-Xms{xms_bytes >> 20}m -XX:+AlwaysPreTouch")
    env_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
    if env_opts:
        parts.append(env_opts)
    if extra_conf and extra_conf.get(_DRIVER_OPTS_KEY):
        parts.append(extra_conf[_DRIVER_OPTS_KEY])
    return " ".join(parts)


def get_spark(
    app_name: str = "umi_dedup_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the dedup pipeline.

    parallelism=None -> ``local[$SPARK_GRAFT_CPUS]`` (default all cores).
    """
    # Python UDF workers inherit this process's env: keep large numpy
    # blocks inside the malloc arena instead of mmap/munmap per
    # allocation, so pages touched by warm_python_workers stay touched —
    # this host's fresh-page first-touch intermittently degrades ~100x
    # (see the AlwaysPreTouch comment below), and per-batch mmap churn
    # re-pays it inside every Arrow UDF stage.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{parallelism if parallelism is not None else cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if parallelism is None else max(parallelism, 8)
    heap = os.environ.get("SPARK_DRIVER_MEM") or f"{driver_heap_mb(_host_mem_bytes())}m"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # heap from the host (SPARK_DRIVER_MEM overrides): a heap that can
        # outgrow the host's RAM gets the JVM OOM-killed mid-session
        .config("spark.driver.memory", heap)
        # Pre-touch the initial heap (-Xms + AlwaysPreTouch): this host's
        # fresh-page first-touch degrades ~75-100x intermittently
        # (BENCH/host_probe.py; a sustained-copy probe measured 0.4-5 GB/s
        # for the first ~35s of fresh allocations vs 65 GB/s steady). A
        # growing heap re-pays that tax inside text-heavy stages — at 500k
        # synth docs it inflated the pipeline 425s -> 90s when fixed.
        # Xms is deliberately smaller than a large Xmx: pre-touching all
        # 48g cost 277s in one degraded window; 8g covers the working set
        # of the bench sizes and keeps worst-case session startup bounded
        # (and is capped at the heap on smaller hosts). On a
        # real cluster this is spark.executor.extraJavaOptions. The
        # pre-touch default is GATED on free memory (hosts with less
        # available than the Xms target would stall or OOM at JVM start)
        # and composed with — not clobbered by — any caller opts (env var
        # and extra_conf both merge; extra_conf wins on duplicate flags
        # because the JVM takes the last occurrence).
        .config("spark.driver.extraJavaOptions", _driver_java_opts(extra_conf, heap))
        # static conf: CodeGenerator reads it once, when the JVM first
        # generates code, so it only takes effect at session start
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # keep the whole-stage-codegen stage id out of the generated class
        # name: AQE numbers stages in re-planning order, which varies run
        # to run, so with the id in the name an identical stage compiled
        # under a new number misses the cache (the id stays in a comment)
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Arrow batch cap bounds per-python-worker peak memory in the
        # fingerprint kernels (vectorized-across-rows numpy temporaries)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # /tmp is janitored in some sandboxes mid-run (observed: blockmgr
        # dir vanishing under a long job); keep shuffle/cache scratch in a
        # repo-local dir instead
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/root/repo/.spark-local"),
        )
    )
    for k, v in (extra_conf or {}).items():
        if k == _DRIVER_OPTS_KEY:
            continue  # already merged into the composed driver opts above
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Spread an under-split batch input across the session's task slots.

    A small parquet file written as ONE row group cannot be split (every
    split past the row-group start reads nothing), so all per-row work
    above the scan would run on one core while the others idle. When
    ``df`` has fewer partitions than ``defaultParallelism``, round-robin
    its rows across that many; at scale the scan already yields at least
    that many partitions and ``df`` comes back unchanged, so no bytes are
    shuffled.

    Call it on a batch read plus narrow projections and filters, once per
    input, before the per-row work. The partition count is read from the
    plan's RDD, which executes any exchange below it: on such a plan this
    runs jobs while the caller builds its plan. The job CLI's
    ``--compact-snapshots`` input is one (``prepare_docs`` over
    ``latest_snapshot`` runs one job there).
    """
    slots = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    return df.repartition(slots) if n < slots else df


def warm_python_workers(spark: SparkSession, n: int | None = None) -> None:
    """Pre-fork and warm one Python UDF worker per task slot (untimed
    setup, the executor-warmup step any cluster deployment performs).

    A cold worker pays fork + numpy/pandas/pyarrow import + first-touch
    arena allocation *inside the first timed Arrow-UDF stage*; on this VM
    first-touch is intermittently pathological and 32 concurrent cold
    workers were measured adding ~15s to the first fingerprint stage
    (19.8s cold vs 4.9s warm at local[32]). Workers are reused for the
    session, so one throwaway job per slot retires the cost."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    n = n or spark.sparkContext.defaultParallelism

    @F.pandas_udf(T.LongType())
    def _touch(s: pd.Series) -> pd.Series:
        from umi_dedup_spark.functions import hashing  # noqa: F401  (import cost)

        # ~128MB first-touch per worker — sized to the fingerprint
        # kernel's peak batch temporaries; with MALLOC_MMAP_THRESHOLD_
        # raised (get_spark) the freed block stays in the arena, so the
        # touched pages are reused by every later Arrow batch
        a = np.ones(16_000_000, dtype=np.int64)
        return pd.Series(np.full(len(s), int(a[:100].sum())))

    spark.range(0, n, 1, n).select(_touch(F.col("id"))).count()
