"""Statistical duplicate-count estimators (SURVEY.md §2.6, E1-E5).

Independent reimplementations of the *semantics* of the reference's four
per-group survivor-count estimators and the apportionment step:

* E1 naive                 (``lib/naive_estimate.py:11-12``)
* E2 weighted_average      (``lib/weighted_average.py:6-15``)
* E3 weighted_average2     (``lib/weighted_average2.py:7-26``)
* E4 cluster / Poisson mix (``lib/poisson_mixture.py:115-202``) — same
  model (Poisson mixture, BIC selection over k=1..kmax, rank-of-lambda
  survivor weighting, [naive, total] clamp, max-count==1 shortcut), fitted
  with standard EM instead of the reference's quasi-Newton QN1
  acceleration (documented divergence: same fixpoint, different path).
* E5 apportion_counts      (``lib/apportion_counts.py:12-44``) — exact
  semantics: proportional ideal, >=1 floor for nonzero counts, residual-
  driven +/-1 adjustment, sum conservation asserted.

All are pure numpy functions over a group's count histogram — the Spark
integration runs them per cluster inside ``applyInPandas``
(embarrassingly parallel, no cross-group state). The "unobserved keyspace"
term |alphabet|^L (``lib/umi_data.py:49-50``) is the ``keyspace`` arg —
a config constant here, since 2^64 fingerprint space is meaningless
(SURVEY.md §7 hard parts).

The scope of one estimator call = one near-dup cluster (the merged parent
key after relabeling, ``lib/markdup_sam.py:179-193``), histogram = exact-
family sizes within the cluster.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from umi_dedup_spark.operators.representative import range_bucket


# ---------------------------------------------------------------- E5
def apportion(counts: list[int] | np.ndarray, target: int) -> np.ndarray:
    """Distribute ``target`` across ``counts`` proportionally.

    Invariants (reference asserts, promoted to exceptions here):
    sum(result) == target; every nonzero count keeps >= 1;
    requires n_nonzero <= target <= sum(counts).

    Tie-break (documented deterministic variant): when several rows share
    the extreme residual, adjust the row with the SMALLEST count value
    first (then lowest input index). The reference's own tie-break is
    set-iteration order, i.e. arbitrary (``lib/apportion_counts.py:26-41``);
    value-ascending is the single rule shared with :func:`apportion_hist`
    so the two implementations produce identical per-value allocation
    multisets (property-tested in test_round2_hardening).
    """
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    n_nonzero = int((counts > 0).sum())
    if not (n_nonzero <= target <= total):
        raise ValueError(f"target {target} outside [{n_nonzero}, {total}]")

    ideal = counts * (target / total)
    # safe_round: anything in (0,1) floors up to 1; else banker's round
    result = np.array(
        [1 if 0 < x < 1 else int(round(x)) for x in ideal], dtype=np.int64
    )
    residual = result - ideal  # positive => over-allocated
    gap = target - int(result.sum())

    if gap > 0:
        # under-allocated: bump the most-under rows, lexicographic
        # (residual asc, count value asc, index asc). One sorted walk is
        # EXACT per-step semantics: initial residuals lie in (-1, 1], so a
        # bumped row's residual exceeds 0 — if it were still the minimum,
        # every residual would be positive and the remaining gap (equal to
        # -sum(residual)) already negative, a contradiction; hence no row
        # is ever picked twice and un-bumped rows keep their order.
        # (|gap| < n always: each |result_i - ideal_i| < 1.)
        order = np.lexsort((counts, residual))[:gap]
        result[order] += 1
    elif gap < 0:
        # over-allocated: shrink max residual first (ties count value asc,
        # then index), never below 1. A single walk is NOT exact here — a
        # lone eligible row legitimately absorbs several decrements (e.g.
        # many floor-up-to-1 rows overshooting onto one large row) — so
        # keep per-step argmax via a heap on the same composite key:
        # O(|gap| log n) instead of the previous full lexsort per step.
        import heapq

        heap = [
            (-residual[i], counts[i], i) for i in range(len(result)) if result[i] > 1
        ]
        heapq.heapify(heap)
        while gap < 0:
            negr, c, i = heapq.heappop(heap)
            result[i] -= 1
            gap += 1
            if result[i] > 1:  # rows at 1 leave the pool (keep >= 1)
                heapq.heappush(heap, (negr + 1.0, c, i))
    assert int(result.sum()) == target
    return result


# ---------------------------------------------------------------- E1
def estimate_naive(counts: np.ndarray, keyspace: int) -> int:
    """One survivor per observed key."""
    return int((np.asarray(counts) > 0).sum())


# ---------------------------------------------------------------- E2
def estimate_weighted_average(counts: np.ndarray, keyspace: int) -> int:
    """Weighted average of n_observed and total, weighted by the
    unobserved-keyspace size vs the number of singletons."""
    counts = np.asarray(counts, dtype=np.int64)
    nz = counts[counts > 0]
    n_obs = len(nz)
    total = int(nz.sum())
    c0 = keyspace - n_obs
    c1 = int((nz == 1).sum())
    if c0 + c1 == 0:
        return n_obs
    return int(round((c0 * n_obs + c1 * total) / (c0 + c1)))


def _div_round_half_even(num: int, den: int) -> int:
    """round(num / den) with Python's banker's rounding, in EXACT integer
    arithmetic (num >= 0, den > 0). The float formulation loses exactness
    once ``num`` exceeds 2^53 (ADVICE r5): per-cluster weighted sums
    reach that around 8.6e9 total docs, where float round() would diverge
    from the SQL oracle's spelled-out integer half-to-even."""
    q, r = divmod(num, den)
    if 2 * r > den:
        return q + 1
    if 2 * r < den:
        return q
    return q + (q & 1)  # exact half: round to even


# ---------------------------------------------------------------- E3
def estimate_weighted_average2(counts: np.ndarray, keyspace: int) -> int:
    """Each observed count value votes for truncating every count at
    (itself + 1); votes weighted by the count-value frequencies including
    the inferred zero class. All arithmetic is exact Python-int (the
    accumulator and final rounding match the SQL oracle bit-for-bit at
    any magnitude; below 2^53 this is value-identical to the previous
    float accumulation, since every partial sum was an exact float)."""
    counts = np.asarray(counts, dtype=np.int64)
    nz = counts[counts > 0]
    freq = Counter(int(c) for c in nz)
    n_umi = keyspace
    freq[0] = n_umi - len(nz)
    values = sorted(freq)

    weighted = 0
    for ci, fi in freq.items():
        n_seen = trunc_sum = 0
        for cj in values:
            if cj > ci:
                break
            n_seen += freq[cj]
            trunc_sum += cj * freq[cj]
        trunc_sum += (ci + 1) * (n_umi - n_seen)
        weighted += fi * trunc_sum
    return _div_round_half_even(weighted, n_umi)


# ---------------------------------------------------------------- E4
def _poisson_log_pmf(obs: np.ndarray, lam: np.ndarray) -> np.ndarray:
    """log P(obs | lam) matrix, shape (n_bins, k)."""
    lg = np.array([math.lgamma(x + 1) for x in obs])
    return (
        obs[:, None] * np.log(lam)[None, :] - lam[None, :] - lg[:, None]
    )


def _fit_poisson_mixture(
    freq: np.ndarray, obs: np.ndarray, k: int, max_iter: int = 500, tol: float = 1e-6
) -> tuple[np.ndarray, np.ndarray, float]:
    """Standard EM fit of a k-component Poisson mixture to a histogram.

    freq[i] observations of value obs[i]. Returns (pi, lam, bic).
    """
    n = float(freq.sum())
    pi = np.full(k, 1.0 / k)
    lam = np.arange(1, k + 1, dtype=np.float64)
    ll_prev = -np.inf
    for _ in range(max_iter):
        logp = _poisson_log_pmf(obs, lam) + np.log(pi)[None, :]
        m = logp.max(axis=1, keepdims=True)
        lse = m[:, 0] + np.log(np.exp(logp - m).sum(axis=1))
        resp = np.exp(logp - lse[:, None])  # (n_bins, k)
        ll = float((freq * lse).sum())
        w = resp * freq[:, None]
        comp_n = w.sum(axis=0)
        pi = np.maximum(comp_n / n, 1e-12)
        lam = np.maximum((w * obs[:, None]).sum(axis=0) / np.maximum(comp_n, 1e-12), 1e-9)
        if abs(ll - ll_prev) < tol:
            break
        ll_prev = ll
    bic = -2.0 * ll + (2 * k - 1) * math.log(n)
    return pi, lam, bic


def estimate_poisson_cluster(counts: np.ndarray, keyspace: int, kmax: int = 10) -> int:
    """BIC-selected Poisson-mixture estimate of the number of distinct
    molecules. Same decision structure as the reference's dedup_cluster:
    shortcut if max count == 1; fall back to naive when the histogram has
    <= 2 distinct values; clamp to [naive, total]."""
    counts = np.asarray(counts, dtype=np.int64)
    nz = counts[counts > 0]
    if len(nz) == 0:
        return 0
    naive = len(nz)
    total = int(nz.sum())
    if nz.max() == 1:
        return naive
    hist = Counter(int(c) for c in nz)
    hist[0] = keyspace - naive
    obs = np.array(sorted(hist), dtype=np.float64)
    freq = np.array([hist[int(o)] for o in obs], dtype=np.float64)
    if len(obs) <= 2:
        return naive

    fits = [
        _fit_poisson_mixture(freq, obs, k)
        for k in range(1, min(kmax, len(obs)) + 1)
    ]
    pi, lam, _ = min(fits, key=lambda t: t[2])
    rank = np.argsort(lam)  # component -> molecule-count rank (reference rule)
    logp = _poisson_log_pmf(obs, lam) + np.log(np.maximum(pi, 1e-300))[None, :]
    assign = logp.argmax(axis=1)
    est = 0.0
    for i in range(len(obs)):
        if obs[i] == 0:
            continue
        est += float(rank[assign[i]]) * freq[i]
    return int(min(max(round(est), naive), total))


ESTIMATORS = {
    "naive": estimate_naive,
    "weighted_average": estimate_weighted_average,
    "weighted_average2": estimate_weighted_average2,
    "cluster": estimate_poisson_cluster,
}


# ------------------------------------------------- histogram-native path
# The Spark integration feeds the estimators the (count_value, n_families)
# histogram instead of one row per family: a hot cluster with 10^9
# families of 3 distinct sizes is 3 histogram rows, not 10^9 pandas rows
# in one Python worker. These functions are exactly equivalent to their
# per-copy counterparts above (property-tested in test_estimators).

def estimate_from_hist(
    values: np.ndarray, mults: np.ndarray, keyspace: int,
    algorithm: str = "naive", kmax: int = 10,
) -> int:
    """Estimator dispatch over a count histogram (values all > 0)."""
    values = np.asarray(values, dtype=np.int64)
    mults = np.asarray(mults, dtype=np.int64)
    n_obs = int(mults.sum())
    total = int((values * mults).sum())
    if algorithm == "naive":
        return n_obs
    if algorithm == "weighted_average":
        c0 = keyspace - n_obs
        c1 = int(mults[values == 1].sum())
        if c0 + c1 == 0:
            return n_obs
        return int(round((c0 * n_obs + c1 * total) / (c0 + c1)))
    # weighted_average2 / cluster already operate on a frequency table
    # internally — expand-free: rebuild their Counter from the histogram
    freq = Counter({int(v): int(m) for v, m in zip(values, mults) if m > 0})
    if algorithm == "weighted_average2":
        n_umi = keyspace
        freq[0] = n_umi - n_obs
        vals = sorted(freq)
        weighted = 0  # exact int, see _div_round_half_even
        for ci, fi in freq.items():
            n_seen = trunc_sum = 0
            for cj in vals:
                if cj > ci:
                    break
                n_seen += freq[cj]
                trunc_sum += cj * freq[cj]
            trunc_sum += (ci + 1) * (n_umi - n_seen)
            weighted += fi * trunc_sum
        return _div_round_half_even(weighted, n_umi)
    if algorithm == "cluster":
        if n_obs == 0:
            return 0
        naive = n_obs
        if int(values.max(initial=0)) == 1:
            return naive
        freq[0] = keyspace - naive
        obs = np.array(sorted(freq), dtype=np.float64)
        fr = np.array([freq[int(o)] for o in obs], dtype=np.float64)
        if len(obs) <= 2:
            return naive
        fits = [
            _fit_poisson_mixture(fr, obs, k)
            for k in range(1, min(kmax, len(obs)) + 1)
        ]
        pi, lam, _ = min(fits, key=lambda t: t[2])
        rank = np.argsort(lam)
        logp = _poisson_log_pmf(obs, lam) + np.log(np.maximum(pi, 1e-300))[None, :]
        assign = logp.argmax(axis=1)
        est = 0.0
        for i in range(len(obs)):
            if obs[i] == 0:
                continue
            est += float(rank[assign[i]]) * fr[i]
        return int(min(max(round(est), naive), total))
    raise ValueError(f"unknown algorithm {algorithm!r}")


def apportion_hist(
    values: np.ndarray, mults: np.ndarray, target: int
) -> tuple[np.ndarray, np.ndarray]:
    """Histogram-native apportionment, equivalent to running
    :func:`apportion` over the expanded per-family vector (values[i]
    repeated mults[i] times) — but in O(n_values log n_values) instead of
    O(n_families), so one hot cluster never expands in memory.

    Returns (keep_base, n_extra) per histogram row: ``n_extra`` families
    of that count value receive ``keep_base + 1`` survivors, the remaining
    ``mults - n_extra`` receive ``keep_base``. Which concrete families get
    the +1 is the caller's deterministic choice (the reference's own
    tie-break is set-iteration order, i.e. arbitrary — SURVEY.md §2.6).

    Exactness argument: per-copy apportion bumps argmin-residual (shrinks
    argmax) one copy at a time; copies sharing a count value share their
    residual, so bumps round-robin across a value's copies level by level
    (each bump raises only that copy's residual by 1). Simulating per
    (value, level) batches with a heap keyed by the level-residual
    reproduces the exact multiset of per-copy results; only the ordering
    among *equal-residual distinct values* differs, which per-copy
    np.argmin resolved by arbitrary input order anyway (documented
    deterministic variant: value-ascending tie-break).
    """
    import heapq

    values = np.asarray(values, dtype=np.int64)
    mults = np.asarray(mults, dtype=np.int64)
    if np.any(values <= 0) or np.any(mults <= 0):
        raise ValueError("histogram rows must have value > 0 and mult > 0")
    n_fams = int(mults.sum())
    total = int((values * mults).sum())
    if not (n_fams <= target <= total):
        raise ValueError(f"target {target} outside [{n_fams}, {total}]")

    ideal = values * (target / total)
    base = np.array(
        [1 if 0 < x < 1 else int(round(x)) for x in ideal], dtype=np.int64
    )
    residual = base - ideal
    gap = target - int((base * mults).sum())
    bumps = np.zeros_like(mults)   # total +1s given to value i's copies
    shrinks = np.zeros_like(mults)  # total -1s

    if gap > 0:
        # cost of the next bump for value i = residual + (bumps // mults)
        heap = [(float(residual[i]), int(values[i]), i) for i in range(len(values))]
        heapq.heapify(heap)
        while gap > 0:
            _, _, i = heapq.heappop(heap)
            avail = int(mults[i] - bumps[i] % mults[i])
            take = min(avail, gap)
            bumps[i] += take
            gap -= take
            heapq.heappush(
                heap, (float(residual[i] + bumps[i] // mults[i]), int(values[i]), i)
            )
    elif gap < 0:
        # only copies with result > 1 may shrink; value i allows up to
        # (base[i] - 1) shrinks per copy. Max-residual first.
        heap = [
            (-float(residual[i]), int(values[i]), i)
            for i in range(len(values))
            if base[i] >= 2
        ]
        heapq.heapify(heap)
        while gap < 0:
            if not heap:
                raise ValueError("cannot shrink below 1 per family")
            _, _, i = heapq.heappop(heap)
            level = int(shrinks[i] // mults[i])
            if level >= int(base[i]) - 1:
                continue  # every copy of this value is already at 1
            avail = int(mults[i] - shrinks[i] % mults[i])
            take = min(avail, -gap)
            shrinks[i] += take
            gap += take
            if int(shrinks[i] // mults[i]) < int(base[i]) - 1 or shrinks[i] % mults[i]:
                heapq.heappush(
                    heap,
                    (-float(residual[i] - shrinks[i] // mults[i]), int(values[i]), i),
                )

    keep_base = base + bumps // mults - shrinks // mults
    n_extra = bumps % mults
    rem_shrink = shrinks % mults
    # a partial shrink level: rem_shrink copies sit one BELOW keep_base
    keep_base = np.where(rem_shrink > 0, keep_base - 1, keep_base)
    n_extra = np.where(rem_shrink > 0, mults - rem_shrink, n_extra)
    assert int((keep_base * mults + n_extra).sum()) == target
    return keep_base.astype(np.int64), n_extra.astype(np.int64)


def deduplicate_counts(
    counts: np.ndarray, keyspace: int, algorithm: str = "naive", kmax: int = 10
) -> np.ndarray:
    """Estimate survivors then apportion across observed counts —
    the full E1-E5 chain for one group."""
    counts = np.asarray(counts, dtype=np.int64)
    if algorithm == "cluster":
        target = estimate_poisson_cluster(counts, keyspace, kmax)
    else:
        target = ESTIMATORS[algorithm](counts, keyspace)
    nz_mask = counts > 0
    target = int(min(max(target, int(nz_mask.sum())), int(counts.sum())))
    out = np.zeros_like(counts)
    out[nz_mask] = apportion(counts[nz_mask], target)
    return out


def survivor_spec(
    clustered_fams: DataFrame, algorithm: str, keyspace: int, kmax: int = 10
) -> DataFrame:
    """Per-cluster estimator, histogram-native: one row of (keep_base,
    n_extra) per (cluster_id, fam_count). The pandas group handed to a
    Python worker is the (cluster_id, fam_count, n_fams) HISTOGRAM —
    group size = number of distinct count values, never the number of
    families, so one hot cluster with 10^9 families cannot pin a single
    Python worker or blow its memory.

    Plan shape: groupBy(cluster_id, fam_count) pre-aggregation (map-side
    combine) -> applyInPandas over the tiny histogram. The result is lazy:
    ``cluster_survivor_counts`` reads it in three branches, so a caller
    that wants the estimator to run once materializes it first (the
    pipeline's ``survivor_spec`` stage does).
    """
    hist = clustered_fams.groupBy("cluster_id", "fam_count").agg(
        F.count(F.lit(1)).alias("n_fams")
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("fam_count").reset_index(drop=True)
        values = pdf["fam_count"].to_numpy()
        mults = pdf["n_fams"].to_numpy()
        est = estimate_from_hist(values, mults, keyspace, algorithm, kmax)
        n_fams = int(mults.sum())
        total = int((values * mults).sum())
        target = int(min(max(est, n_fams), total))
        base, extra = apportion_hist(values, mults, target)
        return pdf.assign(keep_base=base.astype("int64"), n_extra=extra.astype("int64"))

    return hist.groupBy("cluster_id").applyInPandas(
        run,
        schema="cluster_id long, fam_count long, n_fams long, keep_base long, n_extra long",
    )


def cluster_survivor_counts(
    clustered_fams: DataFrame, spec: DataFrame, n_range_buckets: int = 64
) -> DataFrame:
    """Join a ``survivor_spec`` back to families: each family gets its
    n_keep. The n_extra families of a (cluster, value) that receive the
    +1 are the n_extra SMALLEST by (fam_tb asc, norm_hash asc) (the
    reference's own choice is set-iteration order, i.e. arbitrary —
    documented variant).

    Skew-safe rank: no window ever partitions by raw (cluster_id,
    fam_count). At production scale fam_tb is a min-of-xxhash64 (uniform
    int64 — prepare_docs hashes url/warc_ts when no ingest id exists), so
    its ``n_range_buckets`` contiguous ranges split a hot group into
    balanced slices while PRESERVING sort order (equal fam_tb -> same
    bucket); with sequential ingest doc_ids the buckets collapse to one
    (still exact, just unbalanced — identical to the pre-bucketed plan);
    global rank = per-bucket row_number + per-bucket prefix offset from a
    tiny (<= n_range_buckets rows/group) aggregate. Rows that cannot
    receive a +1 (n_extra == 0, or their whole bucket sits past n_extra)
    bypass the window entirely.
    """
    from pyspark.sql import Window

    joined = (
        clustered_fams.select("cluster_id", "norm_hash", "fam_count", "fam_tb")
        .join(spec.select("cluster_id", "fam_count", "keep_base", "n_extra"),
              ["cluster_id", "fam_count"])
    )
    out_cols = ["cluster_id", "norm_hash", "fam_count", "n_keep"]

    # groups that apportioned evenly: every member keeps keep_base, no rank
    zero = joined.filter(F.col("n_extra") == 0).select(
        "cluster_id", "norm_hash", "fam_count",
        F.col("keep_base").alias("n_keep"),
    )

    extra = joined.filter(F.col("n_extra") > 0).withColumn(
        "rb", range_bucket("fam_tb", n_range_buckets)
    )
    bucket_counts = extra.groupBy("cluster_id", "fam_count", "rb").agg(
        F.count(F.lit(1)).alias("bc")
    )
    w_off = (
        Window.partitionBy("cluster_id", "fam_count")
        .orderBy("rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_counts.withColumn(
        "off", F.coalesce(F.sum("bc").over(w_off), F.lit(0))
    ).select("cluster_id", "fam_count", "rb", "off")

    with_off = extra.join(offsets, ["cluster_id", "fam_count", "rb"])
    # buckets entirely past the first n_extra rows can never get a +1
    no_rank = with_off.filter(F.col("off") >= F.col("n_extra")).select(
        "cluster_id", "norm_hash", "fam_count",
        F.col("keep_base").alias("n_keep"),
    )
    w_rank = Window.partitionBy("cluster_id", "fam_count", "rb").orderBy(
        F.asc("fam_tb"), F.asc("norm_hash")
    )
    ranked = (
        with_off.filter(F.col("off") < F.col("n_extra"))
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn(
            "n_keep",
            F.col("keep_base")
            + (F.col("off") + F.col("rn") <= F.col("n_extra")).cast("long"),
        )
        .select(*out_cols)
    )
    return zero.unionByName(no_rank).unionByName(ranked)
