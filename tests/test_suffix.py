"""Substring-pass tests: shift-invariant window anchoring through the
pipeline's window-hash path + the numpy suffix-array LCS certifier."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import MINHASH_SEED, make_fingerprint_udf
from umi_dedup_spark.operators.lsh import candidate_pairs
from umi_dedup_spark.operators.suffix import (
    ANCHOR_STRIDE,
    WINDOW_TOKENS,
    suffix_array_lcs,
    window_band_rows,
)


def test_lcs_basic():
    assert suffix_array_lcs("abcdef", "zzabczz") == 3
    assert suffix_array_lcs("abc", "xyz") == 0
    assert suffix_array_lcs("same", "same") == 4


def test_lcs_random_planted():
    rng = random.Random(0)
    for _ in range(10):
        shared = "".join(rng.choice("abcd") for _ in range(30))
        a = "".join(rng.choice("efgh") for _ in range(20)) + shared
        b = shared + "".join(rng.choice("ijkl") for _ in range(20))
        assert suffix_array_lcs(a, b) >= 30


def _fam_df(spark, texts):
    rows = [(i, 1, i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "norm_hash long, fam_count long, fam_tb long, norm_text string"
    )
    return df


def test_substring_pairs_shift_invariant(spark):
    # shared 60-token verbatim run at *different offsets* in each doc
    rng = random.Random(1)
    vocab = [f"tok{i}" for i in range(1000)]
    shared = " ".join(rng.choice(vocab) for _ in range(60))
    a = " ".join(rng.choice(vocab) for _ in range(37)) + " " + shared
    b = shared + " " + " ".join(rng.choice(vocab) for _ in range(53))
    c = " ".join(rng.choice(vocab) for _ in range(120))  # unrelated
    cfg = DedupConfig()
    # the pipeline's path (DedupPipeline.build_pairs): the fused
    # fingerprint UDF's win_hashes, substring band rows, candidate pairs
    fp_udf = make_fingerprint_udf(
        cfg.shingle_k, cfg.num_perm, MINHASH_SEED,
        WINDOW_TOKENS, ANCHOR_STRIDE,
        cfg.fingerprint_max_tokens,
    )
    fams = _fam_df(spark, [a, b, c]).withColumn(
        "win_hashes", fp_udf(F.col("norm_text"))["win_hashes"]
    )
    pairs, _ = candidate_pairs(window_band_rows(fams), cfg)
    got = {(r["src"], r["dst"], r["is_substring"]) for r in pairs.collect()}
    assert (0, 1, True) in got
    assert all(2 not in p[:2] for p in got)
    # certification: the pair really shares a long verbatim run
    assert suffix_array_lcs(a, b) >= 100
