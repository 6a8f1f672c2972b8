"""Table IO abstraction.

The north rule targets Iceberg tables; the sandbox has no Iceberg jars, so
all IO goes through this module: Iceberg catalog when
``spark.sql.catalog.*`` is configured with the runtime jars present,
plain Parquet directories otherwise (SURVEY.md §7 "Iceberg in sandbox").

Sink provenance mirrors the reference's BAM-header program-line append
(``/root/reference/dedup.py:32-40``): every write records a manifest entry
(stage name, row count, config hash, wall time) next to the data — the
Iceberg analog is snapshot summary properties.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import HASH_DIALECT

MANIFEST_NAME = "_manifest.json"


def _has_scheme(path: str) -> bool:
    return "://" in path


def _hadoop_fs_path(spark: SparkSession, dir_path: str, name: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(dir_path, name)
    return path.getFileSystem(conf), path


def _write_manifest(spark: SparkSession, dir_path: str, manifest: dict) -> None:
    """Manifest IO routed through the Hadoop filesystem API for URI paths
    (s3://, hdfs://, ...) so checkpoint/resume works on shared cluster
    storage, not just the driver's local disk; plain open() for bare local
    paths."""
    content = json.dumps(manifest, indent=1)
    if _has_scheme(dir_path):
        fs, path = _hadoop_fs_path(spark, dir_path, MANIFEST_NAME)
        out = fs.create(path, True)
        out.write(bytearray(content.encode("utf-8")))
        out.close()
    else:
        with open(os.path.join(dir_path, MANIFEST_NAME), "w") as f:
            f.write(content)


def _read_manifest_text(dir_path: str) -> str | None:
    if _has_scheme(dir_path):
        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        fs, path = _hadoop_fs_path(spark, dir_path, MANIFEST_NAME)
        if not fs.exists(path):
            return None
        stream = fs.open(path)
        try:
            reader = spark._jvm.java.io.BufferedReader(
                spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()
    mf = os.path.join(dir_path, MANIFEST_NAME)
    if not os.path.exists(mf):
        return None
    with open(mf) as f:
        return f.read()


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        return bool(spark.conf.get("spark.sql.catalog.dedup", None))
    except Exception:
        return False


def read_table(spark: SparkSession, path_or_tbl: str) -> DataFrame:
    """Read a pipeline table: Iceberg identifier or Parquet path/dir."""
    if _iceberg_available(spark) and not path_or_tbl.startswith("/"):
        return spark.read.format("iceberg").load(path_or_tbl)
    return spark.read.parquet(path_or_tbl)


def write_table(
    df: DataFrame,
    path_or_tbl: str,
    *,
    stage: str,
    config: DedupConfig | None = None,
) -> int:
    """Write a stage snapshot + manifest; returns row count written.

    The count rides the write job as an Observation, so the write runs
    only the jobs a bare write does; it fires on empty and
    zero-partition inputs too."""
    spark = df.sparkSession
    t0 = time.time()
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    if _iceberg_available(spark) and not path_or_tbl.startswith("/"):
        writer.format("iceberg").saveAsTable(path_or_tbl)
        return obs.get["rows"]
    writer.parquet(path_or_tbl)
    n = obs.get["rows"]
    manifest = {
        "stage": stage,
        "rows": n,
        "wall_sec": round(time.time() - t0, 3),
        "complete": True,
        "config": asdict(config) if config else None,
        "dialect": HASH_DIALECT,
    }
    _write_manifest(spark, path_or_tbl, manifest)
    return n


def stage_complete(path: str, config: DedupConfig | None = None) -> bool:
    """True iff a previous run finished writing this stage (resume check)
    AND — when ``config`` is given — it was written under the *same*
    config AND the same hash dialect. A checkpoint written under different
    shingle/signature/threshold settings, or by a build whose fingerprint
    kernel emits different values (``HASH_DIALECT`` mismatch, e.g. the
    blake2b->md5 token-hash switch), is stale (different docs/families/
    pairs) and must be recomputed, never silently mixed into this run's
    output."""
    try:
        manifest = read_manifest(path)
    except Exception:
        return False
    if not manifest or not manifest.get("complete"):
        return False
    if config is not None:
        return (
            manifest.get("config") == asdict(config)
            and manifest.get("dialect") == HASH_DIALECT
        )
    return True


def read_manifest(path: str) -> dict[str, Any] | None:
    text = _read_manifest_text(path)
    return json.loads(text) if text is not None else None
