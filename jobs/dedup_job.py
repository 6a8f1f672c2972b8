#!/usr/bin/env python
"""spark-submit entry point for the dedup pipeline (north rule surface).

Cluster usage:
    zip -r umi_dedup_spark.zip umi_dedup_spark
    spark-submit --py-files umi_dedup_spark.zip jobs/dedup_job.py \\
        --input  s3://bucket/pages_iceberg_or_parquet \\
        --output /warehouse/marked \\
        --checkpoint-dir /warehouse/ckpt --resume \\
        --algorithm naive --hamming-threshold 3

Local smoke:
    python jobs/dedup_job.py --input /root/testdata/sf0.001/documents.parquet \\
        --output /tmp/dedup_out --adapter documents

Mirrors the reference CLI surface (``/root/reference/dedup.py:8-26``:
algorithm, distance threshold, truncation/kmax knobs) re-expressed for
the text graft.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct invocation (python jobs/dedup_job.py) puts jobs/ first on
# sys.path; on a cluster the package arrives via --py-files instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv):
    from umi_dedup_spark.config import DedupConfig

    p = argparse.ArgumentParser(description="near-duplicate detection + clustering")
    p.add_argument("--input", required=True, help="pages table (parquet dir or Iceberg id)")
    p.add_argument("--output", required=True, help="output root (marked/, clusters/, metrics/)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--resume", action="store_true", help="resume from newest complete stage snapshots")
    p.add_argument("--adapter", choices=["pages", "documents"], default="pages")
    p.add_argument(
        "--algorithm",
        default="naive",
        choices=["naive", "weighted_average", "weighted_average2", "cluster"],
        help="survivor-count estimator (reference dedup.py:18)",
    )
    p.add_argument("--hamming-threshold", type=int, default=3)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--num-perm", type=int, default=64)
    p.add_argument("--lsh-bands", type=int, default=32)
    p.add_argument("--lsh-rows", type=int, default=2)
    p.add_argument("--kmax", type=int, default=10)
    p.add_argument(
        "--fingerprint-max-tokens",
        type=int,
        default=DedupConfig.fingerprint_max_tokens,
        help="cap per-doc tokens fed to the fingerprint kernel "
        "(config.fingerprint_max_tokens); 0 or negative disables the cap "
        "— without this flag spark-submit runs silently inherited the "
        "config default and could not disable it (ADVICE r5)",
    )
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--compact-snapshots",
        action="store_true",
        help="pre-pass: keep only the newest warc_ts fetch per url "
        "(operators/snapshot.py) instead of letting the exact pass mark "
        "older fetches as duplicates — cheaper when re-crawl depth is "
        "high (one max-struct agg removes them before fingerprinting)",
    )
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])
    from pyspark.sql import SparkSession

    from umi_dedup_spark.config import DedupConfig
    from umi_dedup_spark.io import write_table
    from umi_dedup_spark.plans.pipeline import DedupPipeline
    from umi_dedup_spark.synth import documents_to_pages

    spark = SparkSession.builder.appName("umi_dedup_spark_job").getOrCreate()
    # cluster-friendly defaults (no-ops if already set by spark-submit conf)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))

    cfg = DedupConfig(
        algorithm=args.algorithm,
        hamming_threshold=args.hamming_threshold,
        jaccard_threshold=args.jaccard_threshold,
        shingle_k=args.shingle_k,
        num_perm=args.num_perm,
        lsh_bands=args.lsh_bands,
        lsh_rows=args.lsh_rows,
        kmax=args.kmax,
        fingerprint_max_tokens=(
            args.fingerprint_max_tokens
            if args.fingerprint_max_tokens and args.fingerprint_max_tokens > 0
            else None
        ),
    )

    pages = spark.read.parquet(args.input)
    if args.adapter == "documents":
        pages = documents_to_pages(pages)
    if args.compact_snapshots:
        if "warc_ts" in pages.columns:
            from umi_dedup_spark.operators.snapshot import latest_snapshot

            pages = latest_snapshot(pages, ["url"], "warc_ts")
        else:
            print(
                "WARNING: --compact-snapshots ignored: input has no "
                "'warc_ts' column (adapter dropped it?); running on all rows",
                file=sys.stderr,
            )

    pipe = DedupPipeline(spark, cfg, checkpoint_dir=args.checkpoint_dir)
    res = pipe.run(pages, resume=args.resume)

    write_table(res.marked, f"{args.output}/marked", stage="marked_out", config=cfg)
    write_table(res.clusters, f"{args.output}/clusters", stage="clusters_out", config=cfg)
    write_table(pipe.lineage(), f"{args.output}/lineage", stage="lineage_out", config=cfg)

    summary = pipe.summary(res)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
