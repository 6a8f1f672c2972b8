"""LSH banding + candidate-pair tests: band determinism, all-pairs vs
star+chain cap behavior, overflow surfacing (no silent truncation)."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import MINHASH_SEED, make_fingerprint_udf
from umi_dedup_spark.operators.lsh import add_band_hashes, candidate_pairs
from umi_dedup_spark.plans.pipeline import DedupPipeline
from umi_dedup_spark.synth import make_pages


def _fams(spark, texts, counts=None):
    rows = [
        (i, (counts or {}).get(i, 1), i, t) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "norm_hash long, fam_count long, fam_tb long, norm_text string"
    )
    cfg = DedupConfig()
    fp = make_fingerprint_udf(cfg.shingle_k, cfg.num_perm, MINHASH_SEED)
    return df.withColumn("fp", fp("norm_text")).select(
        "norm_hash", "fam_count", "fam_tb", "norm_text",
        F.col("fp.minhash").alias("minhash"), F.col("fp.simhash").alias("simhash"),
    )


def test_identical_text_shares_all_bands(spark):
    fams = _fams(spark, ["alpha beta gamma delta epsilon zeta " * 10] * 2)
    cfg = DedupConfig()
    banded = add_band_hashes(fams, cfg)
    # both families land in the same bucket for every band
    n_buckets = banded.groupBy("band_id", "band_hash").count().filter("count = 2").count()
    assert n_buckets == cfg.lsh_bands
    pairs, overflow = candidate_pairs(banded, cfg)
    assert pairs.count() == 1
    assert overflow.count() == 0


def test_hot_bucket_star_chain_and_overflow(spark):
    # one boilerplate bucket larger than the cap -> star+chain linking,
    # overflow row surfaced, connectivity preserved end-to-end
    n_hot = 40
    cfg = dataclasses.replace(DedupConfig(), max_bucket_families=16)
    base = "page not found error the requested resource is gone " * 6
    texts = [f"{base} unique tail {i}" for i in range(n_hot)]
    fams = _fams(spark, texts)
    banded = add_band_hashes(fams, cfg)
    pairs, overflow = candidate_pairs(banded, cfg)
    n_over = overflow.count()
    assert n_over > 0, "oversized bucket must be surfaced"
    np = pairs.count()
    # star+chain is O(m) per hot bucket, not O(m^2)
    assert np < n_hot * n_hot / 2
    # connectivity: union-find over emitted pairs joins all hot families
    parent = list(range(n_hot))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        a, b = find(int(r["src"])), find(int(r["dst"]))
        if a != b:
            parent[a] = b
    roots = {find(i) for i in range(n_hot)}
    assert len(roots) == 1, f"hot bucket fragmented into {len(roots)} components"


def test_pipeline_hot_band_single_cluster(spark):
    cfg = dataclasses.replace(DedupConfig(shuffle_partitions=8), max_bucket_families=8)
    corpus = make_pages(n_docs=40, seed=11, hot_band_size=30)
    res = DedupPipeline(spark, cfg).run(corpus.to_spark(spark))
    hot_urls = [u for u, k in corpus.truth.items() if k == "hot0"]
    rows = res.marked.filter(F.col("url").isin(hot_urls)).select("cluster_id").collect()
    assert len({r["cluster_id"] for r in rows}) == 1


_BANDED = "band_id int, band_hash long, norm_hash long, fam_count long, fam_tb long, is_substring boolean"


def _python_rule(rows, cap):
    """The bucket pair rule, spelled out: members sorted by (fam_count desc,
    fam_tb, norm_hash); all pairs up to ``cap`` rows, else star from the
    first member plus the chain of neighbours; a pair is substring-proven
    if any bucket that emits it is a substring bucket."""
    buckets: dict = {}
    for band_id, band_hash, h, count, tb, sub in rows:
        buckets.setdefault((band_id, band_hash), []).append((-count, tb, h, sub))
    pairs: dict = {}
    overflow = set()
    for key, m in buckets.items():
        m.sort()
        n = len(m)
        if n <= cap:
            idx = [(i, j) for i in range(n) for j in range(i + 1, n)]
        else:
            overflow.add((*key, n))
            idx = [(0, j) for j in range(1, n)] + [(i, i + 1) for i in range(1, n - 1)]
        for i, j in idx:
            a, b = m[i][2], m[j][2]
            if a != b:
                k = (min(a, b), max(a, b))
                pairs[k] = pairs.get(k, False) or m[i][3]
    return {(s, d, f) for (s, d), f in pairs.items()}, overflow


def _run_rule(spark, rows, cap):
    cfg = dataclasses.replace(DedupConfig(shuffle_partitions=4), max_bucket_families=cap)
    pairs, overflow = candidate_pairs(spark.createDataFrame(rows, _BANDED), cfg)
    return {tuple(r) for r in pairs.collect()}, {tuple(r) for r in overflow.collect()}


def test_candidate_pairs_follow_the_bucket_rule(spark):
    cap = 4
    rows = [
        # exactly cap members: all 6 pairs
        *[(0, 1, h, 1, h, False) for h in (1, 2, 3, 4)],
        # cap + 1 members: star from hub 11 (max count 3, min tb 2, min
        # hash of the tb tie) plus the chain = 2n - 3 = 7 pairs
        (0, 2, 10, 3, 5, False), (0, 2, 11, 3, 2, False), (0, 2, 12, 3, 2, False),
        (0, 2, 13, 1, 0, False), (0, 2, 14, 2, 9, False),
        # substring bucket listing family 20 twice: no self-pair
        (-1, 3, 20, 1, 20, True), (-1, 3, 20, 1, 20, True), (-1, 3, 21, 1, 21, True),
        # the same pair from an LSH bucket: substring proof wins
        (1, 4, 20, 1, 20, False), (1, 4, 21, 1, 21, False),
        # a bucket of one: no pairs
        (0, 5, 30, 1, 30, False),
    ]
    got = _run_rule(spark, rows, cap)
    want = _python_rule(rows, cap)
    assert got == want
    pairs, overflow = got
    assert overflow == {(0, 2, 5)}
    hot = {(s, d) for s, d, _ in pairs if s >= 10 and d < 20}
    assert hot == {
        (11, 12), (10, 11), (11, 14), (11, 13), (10, 12), (10, 14), (13, 14)
    }
    assert (20, 21, True) in pairs and (20, 20, True) not in pairs
    assert not any(30 in p[:2] for p in pairs)


def test_candidate_pairs_one_hot_bucket_of_1e5(spark):
    # the ceiling case: one bucket is one sorted array in one task
    n = 100_000
    rows = [(7, 42, h, h % 7 + 1, (h * 31) % 1000, False) for h in range(n)]
    pairs, overflow = _run_rule(spark, rows, 512)
    want_pairs, want_overflow = _python_rule(rows, 512)
    assert len(pairs) == 2 * n - 3
    assert pairs == want_pairs
    assert overflow == want_overflow == {(7, 42, n)}
