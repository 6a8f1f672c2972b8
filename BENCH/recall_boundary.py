#!/usr/bin/env python
"""Near-threshold recall measurement (VERDICT r4 #2).

Plants >= 100 true pairs at shingle Jaccard ~0.43-0.56 and SimHash
distance around the hamming threshold (synth.make_boundary_pairs — the
jaccard population is built so the substring pass CANNOT rescue a missed
MinHash band candidate), then measures, per similarity bin:

  1. the engine's end-to-end same-cluster recall at the pre-round-5
     16 bands x 4 rows config (s-curve midpoint (1/16)^(1/4) = 0.50 —
     exactly at the edge gate),
  2. the same at the round-5 default 32 bands x 2 rows (midpoint moved
     to (1/32)^(1/2) ~ 0.18 in signature-agreement space),
  3. candidate-volume cost of (2) vs (1) on the REALISTIC sf0.1
     documents corpus (the adversarial fixture shows the recall win; the
     real corpus shows what the wider bands cost),
  4. the dual-dialect mini-mirror ``lsh_recall_report`` on the fixture
     written as a documents table (cross-engine agreement on a corpus
     where recall is genuinely < 1.0).

Truth per pair = the engine's own edge gate (hamming(simhash) <= 3 OR
64-perm signature agreement >= 0.5), computed with the python kernels —
identical to tests/test_cluster_equivalence's oracle predicate.

Usage: python BENCH/recall_boundary.py [--skip-sf01]
Prints one JSON line per phase.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import (
    MINHASH_SEED,
    minhash_signature,
    shingle_hashes,
    simhash64,
)
from umi_dedup_spark.plans.pipeline import DedupPipeline
from umi_dedup_spark.session import get_spark, warm_python_workers
from umi_dedup_spark.synth import documents_to_pages, make_boundary_pairs

CFG = DedupConfig()


def pair_stats(docs, pairs):
    """Exact per-pair similarity stats + the engine's truth gate."""
    sh, sig, sim = {}, {}, {}
    for r in docs.itertuples():
        h = shingle_hashes(r.text, CFG.shingle_k)
        sh[r.doc_id] = set(h)
        sig[r.doc_id] = minhash_signature(h, CFG.num_perm, MINHASH_SEED)
        sim[r.doc_id] = simhash64(h)
    out = []
    for p in pairs.itertuples():
        a, b = p.a_id, p.b_id
        inter = len(sh[a] & sh[b])
        jac = inter / (len(sh[a]) + len(sh[b]) - inter)
        est = float((sig[a] == sig[b]).mean())
        ham = bin((sim[a] ^ sim[b]) & ((1 << 64) - 1)).count("1")
        out.append(
            {
                "a_id": a, "b_id": b, "kind": p.kind, "param": p.param,
                "jaccard": jac, "sig_est": est, "hamming": ham,
                "in_truth": ham <= CFG.hamming_threshold
                or est >= CFG.jaccard_threshold,
            }
        )
    return out


def run_pipeline(spark, docs, cfg):
    pages = documents_to_pages(spark.createDataFrame(docs))
    pipe = DedupPipeline(spark, cfg)
    t0 = time.time()
    res = pipe.run(pages)
    assign = {
        r["doc_id"]: r["cluster_id"]
        for r in res.marked.select("doc_id", "cluster_id").collect()
    }
    wall = time.time() - t0
    return assign, wall


def binned_recall(stats, assign, bins):
    rows = []
    for lo, hi, label in bins:
        sel = [s for s in stats if s["in_truth"] and lo <= s[label[0]] < hi]
        hit = [s for s in sel if assign.get(s["a_id"]) == assign.get(s["b_id"])]
        rows.append(
            {
                "bin": f"{label[1]} [{lo},{hi})",
                "n_true": len(sel),
                "n_hit": len(hit),
                "recall": round(len(hit) / len(sel), 4) if sel else None,
            }
        )
    return rows


def candidate_count(spark, docs_sdf, cfg):
    """LSH-band candidate pairs the engine would enumerate (no verify)."""
    from pyspark.sql import functions as F

    from umi_dedup_spark.functions.hashing import make_fingerprint_udf
    from umi_dedup_spark.functions.text import normalize_text
    from umi_dedup_spark.operators.lsh import add_band_hashes, candidate_pairs

    fp = make_fingerprint_udf(cfg.shingle_k, cfg.num_perm, MINHASH_SEED)
    fams = (
        docs_sdf.select(normalize_text(F.col("text")).alias("nt"))
        .select(F.xxhash64("nt").alias("norm_hash"), fp(F.col("nt")).alias("fp"))
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("fam_count"),
            F.min(F.col("fp.minhash")).alias("minhash"),
        )
        .withColumn("fam_tb", F.col("norm_hash"))
    )
    banded = add_band_hashes(fams, cfg)
    pairs, _ = candidate_pairs(banded, cfg)
    return pairs.count()


def main() -> None:
    skip_sf01 = "--skip-sf01" in sys.argv
    docs, pairs = make_boundary_pairs()
    stats = pair_stats(docs, pairs)
    n_true = sum(s["in_truth"] for s in stats)
    jac_band = [
        s for s in stats
        if s["kind"] == "jaccard" and 0.42 <= s["jaccard"] <= 0.55
    ]
    print(json.dumps({
        "phase": "fixture",
        "n_docs": len(docs), "n_pairs": len(stats), "n_truth_pairs": n_true,
        "n_jaccard_band_042_055": len(jac_band),
        "n_jaccard_band_in_truth": sum(s["in_truth"] for s in jac_band),
        "hamming_hist": {
            str(h): sum(1 for s in stats if s["kind"] == "hamming" and s["hamming"] == h)
            for h in sorted({s["hamming"] for s in stats if s["kind"] == "hamming"})
        },
    }), flush=True)

    spark = get_spark("recall-boundary", shuffle_partitions=16)
    warm_python_workers(spark)

    jac_bins = [
        (0.40, 0.45, ("jaccard", "J")), (0.45, 0.50, ("jaccard", "J")),
        (0.50, 0.55, ("jaccard", "J")), (0.55, 0.60, ("jaccard", "J")),
    ]
    est_bins = [
        (0.50, 0.55, ("sig_est", "est")), (0.55, 0.625, ("sig_est", "est")),
        (0.625, 0.75, ("sig_est", "est")), (0.75, 1.01, ("sig_est", "est")),
    ]
    ham_bins = [
        (0, 3, ("hamming", "ham")), (3, 4, ("hamming", "ham")),
    ]

    for bands, rows_ in ((16, 4), (32, 2)):
        cfg = DedupConfig(lsh_bands=bands, lsh_rows=rows_, shuffle_partitions=16)
        assign, wall = run_pipeline(spark, docs, cfg)
        truth = [s for s in stats if s["in_truth"]]
        hit = [
            s for s in truth if assign.get(s["a_id"]) == assign.get(s["b_id"])
        ]
        print(json.dumps({
            "phase": f"engine_{bands}x{rows_}",
            "wall_sec": round(wall, 1),
            "overall_truth_recall": round(len(hit) / len(truth), 4),
            "by_jaccard": binned_recall(stats, assign, jac_bins),
            "by_sig_est": binned_recall(stats, assign, est_bins),
            "by_hamming": binned_recall(stats, assign, ham_bins),
        }), flush=True)

    # candidate-volume cost on the realistic corpus
    if not skip_sf01:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        real = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for bands, rows_ in ((16, 4), (32, 2)):
            cfg = DedupConfig(lsh_bands=bands, lsh_rows=rows_, shuffle_partitions=32)
            t0 = time.time()
            n = candidate_count(spark, real, cfg)
            print(json.dumps({
                "phase": f"sf01_candidates_{bands}x{rows_}",
                "n_candidate_pairs": n,
                "wall_sec": round(time.time() - t0, 1),
            }), flush=True)

    # the board mirror on the fixture: dual-dialect lsh_recall_report
    import tempfile

    import duckdb

    import __spark_entry__ as entry_mod

    with tempfile.TemporaryDirectory() as td:
        pq = f"{td}/documents.parquet"
        spark.createDataFrame(docs).write.parquet(pq)
        spark.read.parquet(pq).createOrReplaceTempView("documents")
        srow = spark.sql(entry_mod.SQL_QUERIES["lsh_recall_report"]("s")).collect()[0]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
        drow = con.sql(entry_mod.SQL_QUERIES["lsh_recall_report"]("d")).fetchone()
        print(json.dumps({
            "phase": "board_mirror_lsh_recall_report",
            "spark": dict(zip(["n_true", "n_candidates", "n_hit", "recall"], [srow[0], srow[1], srow[2], srow[3]])),
            "duckdb": dict(zip(["n_true", "n_candidates", "n_hit", "recall"], list(drow))),
            "engines_agree": [srow[i] for i in range(4)] == list(drow),
        }), flush=True)


if __name__ == "__main__":
    main()
