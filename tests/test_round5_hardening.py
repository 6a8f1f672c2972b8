"""Round-5 hardening: ADVICE r4 items 2-4. (Item 1, a decontamination
shuffle-join fallback behind a caller-supplied gram estimate, is gone
with the estimate: no caller passed it, so every caller broadcasts.)

2. jobs/dedup_job: --compact-snapshots without a warc_ts column warns
   instead of silently no-opping (CLI-level, covered by the stderr check
   in test_dedup_job_cli-style harness below).
3. latest_snapshot: MapType payload columns raise a clear error naming
   the column instead of an opaque analysis failure.
4. semdedup_mark / ivf_topk: explicit centroid_ids that are missing from
   the data raise instead of silently shifting every cell index.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from umi_dedup_spark.operators.similarity import ivf_topk, semdedup_mark
from umi_dedup_spark.operators.snapshot import latest_snapshot


def test_latest_snapshot_maptype_payload_raises(spark):
    df = spark.createDataFrame(
        [(1, 10, {"k": "v"})], "user_id long, ts long, props map<string,string>"
    )
    with pytest.raises(TypeError, match="props"):
        latest_snapshot(df, ["user_id"], "ts")
    # excluding the MapType column via payload= works
    out = latest_snapshot(df, ["user_id"], "ts", payload=[])
    assert out.collect()[0]["ts"] == 10


def test_semdedup_missing_centroid_id_raises(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match=r"semdedup_mark.*\[7\]"):
        semdedup_mark(emb, n_cells=2, threshold=0.9, centroid_ids=[0, 7])


def test_ivf_missing_centroid_id_raises(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    q = emb.filter(F.col("vec_id") == 0)
    with pytest.raises(ValueError, match=r"ivf_topk.*\[9\]"):
        ivf_topk(q, emb, k=1, n_cells=2, nprobe=1, centroid_ids=[0, 9])


def test_compact_snapshots_without_warc_ts_warns(tmp_path, capfd):
    """jobs/dedup_job.py --compact-snapshots on a schema with no warc_ts
    must emit a warning (and still run) rather than silently skipping."""
    import subprocess
    import sys

    from umi_dedup_spark.session import get_spark

    from umi_dedup_spark.synth import documents_to_pages

    spark = get_spark("r5-cli-warn", parallelism=4, shuffle_partitions=4)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    pages = documents_to_pages(docs).drop("warc_ts")
    inp = str(tmp_path / "in.parquet")
    pages.write.parquet(inp)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [
            sys.executable,
            "jobs/dedup_job.py",
            "--input", inp,
            "--output", out,
            "--compact-snapshots",
            "--shuffle-partitions", "4",
        ],
        capture_output=True,
        text=True,
        timeout=560,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "compact-snapshots ignored" in proc.stderr


def test_boundary_pair_recall_at_default_config(spark):
    """VERDICT r4 #2: >= 100 true pairs planted AT the candidate
    boundary (shingle Jaccard ~0.43-0.56 dispersed in sub-24-token
    blocks, so the substring pass cannot rescue; token-edit pairs around
    the hamming threshold). The default band config must recover
    >= 0.99 of the pairs its own edge gate accepts — this is exactly
    the bin where the old 16x4 banding measured 0.78
    (BENCH/recall_boundary.py)."""
    from umi_dedup_spark.config import DedupConfig
    from umi_dedup_spark.functions.hashing import (
        MINHASH_SEED,
        minhash_signature,
        shingle_hashes,
        simhash64,
    )
    from umi_dedup_spark.plans.pipeline import DedupPipeline
    from umi_dedup_spark.synth import documents_to_pages, make_boundary_pairs

    cfg = DedupConfig(shuffle_partitions=8)
    docs, pairs = make_boundary_pairs(
        seed=5, n_per_len=24, n_per_edit=6, hamming_edits=(1, 2, 3)
    )
    sh, sig, sim = {}, {}, {}
    for r in docs.itertuples():
        h = shingle_hashes(r.text, cfg.shingle_k)
        sh[r.doc_id] = set(h)
        sig[r.doc_id] = minhash_signature(h, cfg.num_perm, MINHASH_SEED)
        sim[r.doc_id] = simhash64(h)
    truth = []
    for p in pairs.itertuples():
        est = float((sig[p.a_id] == sig[p.b_id]).mean())
        ham = bin((sim[p.a_id] ^ sim[p.b_id]) & ((1 << 64) - 1)).count("1")
        if ham <= cfg.hamming_threshold or est >= cfg.jaccard_threshold:
            truth.append((p.a_id, p.b_id))
    assert len(truth) >= 80, f"fixture too thin: {len(truth)} truth pairs"

    res = DedupPipeline(spark, cfg).run(
        documents_to_pages(spark.createDataFrame(docs))
    )
    assign = {
        r["doc_id"]: r["cluster_id"]
        for r in res.marked.select("doc_id", "cluster_id").collect()
    }
    hit = sum(1 for a, b in truth if assign.get(a) == assign.get(b))
    recall = hit / len(truth)
    assert recall >= 0.99, f"boundary recall {recall:.4f} ({hit}/{len(truth)})"
