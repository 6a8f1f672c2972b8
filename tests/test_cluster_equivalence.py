"""End-to-end cluster equivalence: the FULL Spark pipeline vs the
pure-Python reference-semantics oracle, at identical shingle/signature
config — the dup-pair recall >= 0.99 contract from BASELINE.json.

Unlike tests/test_directional.py (which feeds both sides the same explicit
edge list), this test lets the pipeline generate its own candidates
via LSH + substring buckets; the oracle gets the *exact* near relation
(all-pairs over the same fingerprints, same predicate thresholds). Any
candidate pair the LSH bands miss shows up as lost recall here.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import oracle
from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import (
    MINHASH_SEED,
    minhash_signature,
    shingle_hashes,
    simhash64,
)
from umi_dedup_spark.operators.suffix import ANCHOR_STRIDE, WINDOW_TOKENS
from umi_dedup_spark.plans.pipeline import DedupPipeline
from umi_dedup_spark.synth import make_pages

CFG = DedupConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def setup(spark):
    corpus = make_pages(n_docs=250, seed=17, hot_band_size=25)
    pages = corpus.to_spark(spark)
    pipe = DedupPipeline(spark, CFG)
    res = pipe.run(pages)

    # family table straight from the pipeline's docs stage (same doc_key /
    # norm_hash derivation), fingerprints recomputed with the *same*
    # python kernels the UDFs use. The engine no longer caches norm_text on
    # the family table (text-sized columns stay out of shuffles/caches), so
    # rebuild the norm_hash -> norm_text map from the pages directly.
    from umi_dedup_spark.functions.text import normalize_text

    norm = normalize_text(F.col("text"))
    norm_map = {
        r["nh"]: r["nt"]
        for r in pages.select(
            F.xxhash64(norm).alias("nh"), norm.alias("nt")
        ).distinct().collect()
    }
    fam_rows = [
        {**r.asDict(), "norm_text": norm_map[r["norm_hash"]]}
        for r in res.clusters.select(
            "norm_hash", "fam_count", "fam_tb", "cluster_id"
        ).collect()
    ]
    return corpus, res, fam_rows


def _oracle_assignment(fam_rows, cfg: DedupConfig):
    nodes, counts, tb, sims, sigs, grams = [], {}, {}, {}, {}, {}
    run_len = ANCHOR_STRIDE + WINDOW_TOKENS
    for r in fam_rows:
        n = r["norm_hash"]
        nodes.append(n)
        counts[n] = r["fam_count"]
        tb[n] = r["fam_tb"]
        h = shingle_hashes(r["norm_text"], cfg.shingle_k)
        sigs[n] = minhash_signature(h, cfg.num_perm, MINHASH_SEED)
        sims[n] = simhash64(h)
        toks = r["norm_text"].split()
        grams[n] = {
            " ".join(toks[i : i + run_len]) for i in range(max(len(toks) - run_len + 1, 0))
        }

    def near(a, b):
        d = bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")
        if d <= cfg.hamming_threshold:
            return True
        if float((sigs[a] == sigs[b]).mean()) >= cfg.jaccard_threshold:
            return True
        # substring-pass signal: a shared verbatim run of >= s+T tokens is
        # the winnowing pass's deterministic-catch guarantee
        return not grams[a].isdisjoint(grams[b])

    return oracle.cluster_bundle(nodes, counts, tb, near)


def test_full_pipeline_dup_pair_recall(setup):
    _, res, fam_rows = setup
    assignment = _oracle_assignment(fam_rows, CFG)
    oracle_pairs = oracle.same_cluster_pairs(assignment)

    spark_assign = {r["norm_hash"]: r["cluster_id"] for r in fam_rows}
    spark_pairs = oracle.same_cluster_pairs(spark_assign)

    if not oracle_pairs:
        pytest.skip("no oracle pairs on this corpus")
    recall = len(oracle_pairs & spark_pairs) / len(oracle_pairs)
    precision = len(oracle_pairs & spark_pairs) / max(len(spark_pairs), 1)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} vs oracle"
    # the pipeline may additionally link verbatim runs in [T, s+T) tokens
    # (probabilistic winnowing catches below the deterministic guarantee
    # the oracle models); precision floor is looser but must stay high
    assert precision >= 0.85, f"precision {precision:.4f} vs oracle"


def test_representative_rule_matches_oracle(setup):
    # C5: cluster representative = max count, tie min tb — on every
    # cluster both sides agree on the representative family
    _, res, fam_rows = setup
    assignment = _oracle_assignment(fam_rows, CFG)
    by_fam = {r["norm_hash"]: r for r in fam_rows}
    # oracle rep per cluster
    spark_clusters: dict = {}
    for r in fam_rows:
        spark_clusters.setdefault(r["cluster_id"], []).append(r["norm_hash"])
    agree = total = 0
    for cid, members in spark_clusters.items():
        if len(members) == 1:
            continue
        total += 1
        counts = {m: by_fam[m]["fam_count"] for m in members}
        tb = {m: by_fam[m]["fam_tb"] for m in members}
        want = oracle.get_best(set(members), counts, tb)
        if want == cid:  # pipeline cluster_id IS the seed == C5 rep
            agree += 1
    if total:
        assert agree / total >= 0.99, f"rep agreement {agree}/{total}"
