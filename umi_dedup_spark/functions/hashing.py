"""Fingerprint kernels: shingle hashing, MinHash signatures, SimHash.

Graft analog of the UMI itself (reference ``lib/umi_data.py:5``): where the
reference carries a fixed-length ACGT barcode per read, we derive a MinHash
signature (``array<int>``) and a 64-bit SimHash fingerprint (``long``) per
document. All kernels are Arrow-vectorized pandas UDFs with numpy bodies —
no per-row Python (BASELINE.json input_hint mandate). The Hamming-distance
predicate itself stays JVM-side (``F.bit_count(a ^ b)``), mirroring
``lib/sequence_error.py:22-25``.

Hash functions:
* token hash: 60-bit md5 prefix per unique token (cached per Arrow batch,
  C speed) — first 15 hex chars of md5 as an integer, EXACTLY the dialect
  ``_h64`` the SQL oracles compute (``('0x'||substr(md5(t),1,15))::BIGINT``
  in DuckDB), so every derived fingerprint (shingle polynomial, MinHash,
  SimHash, winnowing windows) is reproducible cross-engine in pure SQL —
  that is what lets the END-TO-END flagship pipeline have a DuckDB oracle.
  Shingles combine token hashes with a vectorized uint64 polynomial —
  deterministic across runs/processes (unlike Python ``hash``). At cluster
  scale one would swap in xxhash64; semantics equal.
* MinHash permutations: h_i(x) = (a_i * x) mod 2^64 with seeded odd a_i —
  a bijection of the 64-bit space, so per-permutation argmin is a valid
  MinHash, at one wrapped int64 multiply per element (numpy-fast). The
  SQL-oracle queries use an independent md5/mod-(2^31-1) family computed
  identically in both engines, so cross-engine parity is unaffected.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Version tag of the fingerprint VALUE semantics (token hash + shingle
# combiner + MinHash family + SimHash + winnowing). Checkpoint manifests
# record it and resume refuses a mismatch: a kernel change (e.g. the
# round-3 blake2b -> md5 token-hash switch) invalidates every persisted
# fingerprint even under an identical DedupConfig — reusing such a
# snapshot would be self-consistent but diverge from fresh runs and from
# the SQL oracles. Bump whenever any emitted hash value can change.
HASH_DIALECT = "md5-60bit/fnv-poly/mul64-minhash/v1"

_POLY = np.uint64(1099511628211)  # FNV prime as shingle combiner multiplier
_FNV_BASIS = np.uint64(1469598103934665603)


def _token_hash64(token: str) -> int:
    # 60-bit md5 prefix == the SQL dialect's _h64 (cross-engine parity)
    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16)


# Worker-process-persistent token-hash cache. Spark reuses Python UDF
# workers across Arrow batches (and across stages within a session), and
# web text repeats its vocabulary heavily across documents — boilerplate,
# stopwords, navigation chrome — so md5 of the same token was being
# recomputed once per batch under the old per-batch dict. Sharing one
# module-level dict makes the md5 cost amortize to once per unique token
# per WORKER LIFETIME. Pure value cache: the md5 mapping is immutable, so
# a hit can never change a fingerprint (oracle parity unaffected).
# Eviction is whole-dict clear past a size cap — crude, but hot tokens
# re-warm in one batch and the cap bounds worker RSS (~512k entries at
# ~100B each ≈ 50MB/worker). Workers are single-threaded: no locking.
_TOKEN_CACHE_CAP = 1 << 19
_TOKEN_CACHE: dict = {}


def shared_token_cache() -> dict:
    if len(_TOKEN_CACHE) > _TOKEN_CACHE_CAP:
        _TOKEN_CACHE.clear()
    return _TOKEN_CACHE


def token_hashes(toks: list[str], cache: dict) -> np.ndarray:
    """uint64 hash per token; md5 runs once per UNIQUE token.

    ``pd.factorize`` (C hash table) collapses the token list to unique
    codes, so the Python-level loop runs over uniques only — profiling
    showed the previous per-token dict.get loop was the single largest
    kernel cost (~30% of the batch) on repetitive web text."""
    codes, uniques = pd.factorize(np.asarray(toks, dtype=object), sort=False)
    vals = np.empty(len(uniques), dtype=np.uint64)
    for i, t in enumerate(uniques):
        v = cache.get(t)
        if v is None:
            v = _token_hash64(t)
            cache[t] = v
        vals[i] = v
    return vals[codes]


def _combine_windows(th: np.ndarray, k: int) -> np.ndarray:
    """Distinct polynomial hashes of every k-length window of token
    hashes (<= k tokens hash as one window)."""
    n = len(th)
    with np.errstate(over="ignore"):
        if n <= k:
            acc = _FNV_BASIS
            for h in th:
                acc = acc * _POLY + h  # wrapping uint64
            return np.array([acc], dtype=np.uint64)
        win = np.lib.stride_tricks.sliding_window_view(th, k)
        acc = np.full(win.shape[0], _FNV_BASIS, dtype=np.uint64)
        for j in range(k):
            acc = acc * _POLY + win[:, j]
    return np.unique(acc)


def shingle_hashes(text: str, k: int, _cache: dict | None = None) -> np.ndarray:
    """Distinct uint64 hashes of the k-token shingles of ``text``.

    Vectorized: per-unique-token 60-bit md5 prefix (C, == the SQL oracle's
    ``_h64`` dialect), then a sliding-window polynomial combine in numpy.
    Docs with <= k tokens hash as one shingle.
    """
    toks = text.split()
    if not toks:
        toks = [""]
    cache = _cache if _cache is not None else {}
    return _combine_windows(token_hashes(toks, cache), k)


def winnow_anchor_positions(th: np.ndarray, s: int) -> np.ndarray:
    """TRUE WINNOWING anchors (Schleimer et al. 2003) over a uint64 token-
    hash sequence: position i anchors iff th[i] is the minimum of at least
    one s-length window covering i. Computed in two vectorized passes:
    fwd[j] = min(th[j..j+s-1]) (tail windows truncate), then anchor(i) iff
    max(fwd[i-s+1..i]) == th[i] — every covering window has fwd <= th[i],
    so some covering window attains th[i] (i is its argmin) exactly when
    the max does. Guarantees >= 1 anchor in every s consecutive positions
    (given distinct hashes), regardless of content — monotone runs
    included. numpy sliding_window_view: C speed, no per-element Python
    (the equivalent Spark higher-order-function formulation is interpreted
    per element and measured ~100x slower)."""
    n = len(th)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if s <= 1 or n == 1:
        return np.arange(n, dtype=np.int64)
    INF = np.uint64(0xFFFFFFFFFFFFFFFF)
    pad_f = np.concatenate([th, np.full(s - 1, INF, dtype=np.uint64)])
    fwd = np.lib.stride_tricks.sliding_window_view(pad_f, s).min(axis=1)  # len n
    pad_b = np.concatenate([np.zeros(s - 1, dtype=np.uint64), fwd])
    cov = np.lib.stride_tricks.sliding_window_view(pad_b, s).max(axis=1)  # len n
    return np.flatnonzero(cov == th).astype(np.int64)


def window_anchor_hashes(th: np.ndarray, s: int, T: int) -> np.ndarray:
    """Distinct int64 hashes of the T-token windows starting at each
    winnowing anchor (anchors without a full T-window are dropped). Two
    documents sharing a verbatim token run of >= s+T-1 tokens share at
    least one anchored window hash (winnowing density guarantee)."""
    n = len(th)
    if n < T:
        return np.empty(0, dtype=np.int64)
    anchors = winnow_anchor_positions(th, s)
    anchors = anchors[anchors <= n - T]
    if len(anchors) == 0:
        return np.empty(0, dtype=np.int64)
    with np.errstate(over="ignore"):
        acc = np.full(len(anchors), _FNV_BASIS, dtype=np.uint64)
        for j in range(T):
            acc = acc * _POLY + th[anchors + j]
    return np.unique(acc).view(np.int64)


# Seed of the MinHash multipliers every caller uses; the flagship
# oracle rebuilds the same multipliers from it
# (``__spark_entry__._mh_consts``), so it is part of the dialect.
MINHASH_SEED = 42


@lru_cache(maxsize=8)
def minhash_params(num_perm: int, seed: int) -> np.ndarray:
    """Seeded odd int64 multipliers. h_i(x) = (a_i * x) mod 2^64 with odd
    a_i is a bijection of the 64-bit space, so argmin under it is a valid
    MinHash permutation — and it costs ONE wrapped multiply per element.
    (The classic (a*x+b) mod (2^31-1) family needs ~10 vector passes per
    multiply in numpy, and this build's uint64 kernels are 20-170x slower
    than int64, so signed wrapping multiply is the fast exact choice.)"""
    rng = np.random.RandomState(seed)
    a = (rng.randint(-(2**62), 2**62, size=num_perm).astype(np.int64) << 1) | 1
    return a


def minhash_signature(hashes: np.ndarray, num_perm: int, seed: int) -> np.ndarray:
    """MinHash signature (int64[num_perm]) of a set of uint64 shingle
    hashes: sig_i = min over shingles x of (a_i * x mod 2^64), compared as
    signed int64 (any fixed total order over a bijection works)."""
    a = minhash_params(num_perm, seed)
    x = np.ascontiguousarray(hashes).view(np.int64)[:, None]
    with np.errstate(over="ignore"):
        vals = x * a[None, :]
    return vals.min(axis=0)


def simhash64(hashes: np.ndarray) -> int:
    """64-bit SimHash of a set of uint64 shingle hashes (signed int64)."""
    bits = np.unpackbits(
        hashes.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(hashes)
    fp = np.uint64(0)
    for bpos in np.flatnonzero(votes > 0):
        fp |= np.uint64(1) << np.uint64(bpos)
    return int(fp.astype(np.int64))


def _fingerprint_batch(
    texts: pd.Series, k: int, num_perm: int, seed: int,
    window_tokens: int | None = None, anchor_stride: int | None = None,
    max_tokens: int | None = None,
) -> tuple[list[np.ndarray], np.ndarray, list[np.ndarray] | None]:
    """Batch kernel, vectorized ACROSS rows: all rows' shingle hashes are
    flattened into one array and the permutation mins / bit votes are
    computed with segment reductions (minimum.reduceat / add.reduceat)
    over row boundaries — per-row numpy-call overhead was the dominant
    cost of the per-row formulation (~0.6 ms/row; ~20x less this way).
    Permutations are processed in groups of 8 to bound the (n_shingles x
    perms) intermediate to tens of MB per Arrow batch.

    When window_tokens/anchor_stride are given, also returns per-row
    winnowing-anchored window hashes (the substring pass's bucket keys)
    from the SAME per-token hashes — one tokenization per doc covers
    MinHash, SimHash, and the substring windows.
    """
    cache = shared_token_cache()
    rows: list[np.ndarray] = []
    wins: list[np.ndarray] | None = [] if window_tokens else None
    for t in texts:
        toks = (t if isinstance(t, str) else "").split() or [""]
        if max_tokens is not None and len(toks) > max_tokens:
            # fingerprint_max_tokens cap (config.py): bound per-doc kernel
            # cost by fingerprinting only the document prefix
            toks = toks[:max_tokens]
        th = token_hashes(toks, cache)
        rows.append(_combine_windows(th, k))
        if wins is not None:
            wins.append(window_anchor_hashes(th, anchor_stride, window_tokens))
    n = len(rows)
    if n == 0:
        return [], np.empty(0, dtype=np.int64), wins
    lens = np.fromiter((len(r) for r in rows), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    flat = np.concatenate(rows)

    # --- MinHash: sig[r, i] = min over row r's shingles of (a_i * x)
    # wrapped in int64 — one multiply + one segment-min per permutation.
    x = flat.view(np.int64)
    a = minhash_params(num_perm, seed)
    sig = np.empty((n, num_perm), dtype=np.int64)
    with np.errstate(over="ignore"):
        for j0 in range(0, num_perm, 8):
            j1 = min(j0 + 8, num_perm)
            y = x[:, None] * a[None, j0:j1]
            sig[:, j0:j1] = np.minimum.reduceat(y, starts, axis=0)

    # --- SimHash: per row, per bit, majority vote over shingle bits.
    # int64 halves view + 64 fast 1D segment-reductions (a single 2D
    # reduceat over an (n_shingles x 64) matrix allocates ~0.5GB and is
    # ~100x slower).
    halves = flat.view(np.uint32).astype(np.int64)
    lo, hi = halves[0::2], halves[1::2]
    votes = np.empty((64, n), dtype=np.int64)
    for j in range(64):
        src = lo if j < 32 else hi
        col = (src >> np.int64(j % 32)) & np.int64(1)
        votes[j] = np.add.reduceat(col, starts)
    ones = (2 * votes) > lens[None, :]
    sims = np.zeros(n, dtype=np.int64)
    for j in range(63):
        sims += ones[j].astype(np.int64) << np.int64(j)
    # bit 63 flips the sign in two's complement: subtract 2^63 via int64 min
    sims = np.where(ones[63], sims + np.int64(-(2**63)), sims)

    return list(sig), sims, wins


def make_fingerprint_udf(
    k: int, num_perm: int, seed: int,
    window_tokens: int | None = None, anchor_stride: int | None = None,
    max_tokens: int | None = None,
):
    """pandas_udf: text -> struct(minhash array<long>, simhash long[,
    win_hashes array<long>]).

    One UDF computes every fingerprint so tokens are hashed once per doc;
    win_hashes (the substring pass's winnowing-anchored window hashes) is
    included when window_tokens/anchor_stride are given.
    """
    fields = [
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
    ]
    if window_tokens:
        fields.append(T.StructField("win_hashes", T.ArrayType(T.LongType())))
    schema = T.StructType(fields)

    @F.pandas_udf(schema)
    def fingerprint_udf(texts: pd.Series) -> pd.DataFrame:
        sigs, sims, wins = _fingerprint_batch(
            texts, k, num_perm, seed, window_tokens, anchor_stride, max_tokens
        )
        out = {"minhash": sigs, "simhash": sims}
        if window_tokens:
            out["win_hashes"] = wins
        return pd.DataFrame(out)

    return fingerprint_udf


def hamming64(col_a, col_b):
    """JVM-side Hamming distance between two 64-bit fingerprints —
    ``bit_count(a XOR b)``; mirrors reference ``lib/sequence_error.py:22-25``."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def minhash_jaccard(col_a, col_b):
    """JVM-side estimated Jaccard from two MinHash signatures:
    fraction of equal positions (zip_with + aggregate, no Python)."""
    eq = F.zip_with(col_a, col_b, lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double") / F.size(col_a)
