"""Fingerprint kernel unit tests (SURVEY.md §5 strategy item 1)."""

from __future__ import annotations

import numpy as np

from umi_dedup_spark.functions.hashing import (
    minhash_signature,
    shingle_hashes,
    simhash64,
)


def test_shingle_hashes_deterministic():
    a = shingle_hashes("the quick brown fox jumps over the lazy dog", 3)
    b = shingle_hashes("the quick brown fox jumps over the lazy dog", 3)
    assert np.array_equal(a, b)
    assert a.dtype == np.uint64
    assert len(a) == len(set(a.tolist()))  # distinct


def test_shingle_hashes_short_doc_single_shingle():
    assert len(shingle_hashes("one two", 5)) == 1
    assert len(shingle_hashes("", 5)) == 1


def test_shingle_order_sensitivity():
    a = shingle_hashes("a b c d e f", 3)
    b = shingle_hashes("f e d c b a", 3)
    assert set(a.tolist()) != set(b.tolist())


def test_minhash_signature_determinism_and_seed_sensitivity():
    h = shingle_hashes("spark near duplicate detection at web scale", 2)
    s1 = minhash_signature(h, 64, seed=42)
    s2 = minhash_signature(h, 64, seed=42)
    assert np.array_equal(s1, s2)
    assert s1.dtype == np.int64 and len(s1) == 64
    s3 = minhash_signature(h, 64, seed=43)
    assert not np.array_equal(s1, s3)
    # permutation property: signature of a superset is elementwise <= of
    # the subset's (mins can only decrease)
    h2 = np.concatenate([h, shingle_hashes("more content here too", 2)])
    s4 = minhash_signature(np.unique(h2), 64, seed=42)
    assert (s4 <= s1).all()


def test_minhash_jaccard_estimate():
    rng = np.random.RandomState(0)
    base = rng.randint(0, 1 << 60, size=200).astype(np.uint64)
    # 80% overlap set
    other = np.concatenate([base[:160], rng.randint(0, 1 << 60, 40).astype(np.uint64)])
    s1 = minhash_signature(np.unique(base), 128, 42)
    s2 = minhash_signature(np.unique(other), 128, 42)
    est = float((s1 == s2).mean())
    true_j = len(set(base) & set(other)) / len(set(base) | set(other))
    assert abs(est - true_j) < 0.15


def test_simhash_close_for_small_edits():
    # a varied document (many distinct shingles) with one token edited
    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(500)]
    toks = [vocab[i] for i in rng.randint(0, 500, size=300)]
    t1 = " ".join(toks)
    toks[150] = "EDITED"
    t2 = " ".join(toks)
    h1 = simhash64(shingle_hashes(t1, 3))
    h2 = simhash64(shingle_hashes(t2, 3))
    dist = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    assert dist <= 6
    t3 = " ".join(vocab[i] for i in rng.randint(0, 500, size=300))
    h3 = simhash64(shingle_hashes(t3, 3))
    dist_far = bin((h1 ^ h3) & ((1 << 64) - 1)).count("1")
    assert dist_far > 12


def test_simhash_int64_range():
    h = simhash64(shingle_hashes("x " * 100, 3))
    assert -(1 << 63) <= h < (1 << 63)
