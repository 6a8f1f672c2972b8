"""Pipeline configuration.

The "identical shingle/signature config" knob set that dup-pair recall
parity is defined over (SURVEY.md §7 M0). Mirrors the reference's CLI
surface (``/root/reference/dedup.py:8-26``: algorithm, optical distance,
truncation, kmax) re-expressed for text dedup.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # --- text normalization / usability filters (analog of
    # alignment_is_good + umi_is_good, reference lib/parse_sam.py:5-6,
    # lib/umi_data.py:7-10) ---
    min_text_chars: int = 8          # drop docs shorter than this
    lowercase: bool = True
    collapse_whitespace: bool = True

    # --- shingling / fingerprints (analog of the UMI itself,
    # reference lib/umi_data.py:5) ---
    shingle_k: int = 5               # tokens per shingle
    num_perm: int = 64               # MinHash signature length

    # --- LSH banding (analog of the (strand,pos) grouping scope,
    # reference lib/markdup_sam.py:64) ---
    # 32 bands x 2 rows (retuned round 5, measured in
    # BENCH/recall_boundary.py): the edge gate accepts signature
    # agreement >= 0.5, and banding must catch gate-passing pairs with
    # >= 0.99 probability. 16x4 puts the s-curve midpoint (1/16)^(1/4)
    # EXACTLY at 0.5 — adversarial boundary pairs measured 0.78 recall in
    # the est [0.5,0.55) bin. 32x2 moves the midpoint to (1/32)^(1/2) ~
    # 0.18: P(catch | agreement 0.5) = 1-(1-0.25)^32 > 0.9999, measured
    # 309/309 on the boundary fixture. Cost: banded rows double (32/fam)
    # and mid-similarity candidates rise — measured a WASH at 20k docs
    # (pairs stage 1.57s -> 1.63s) and +3 candidates at sf0.1, because
    # verification is the cheap signature-agreement gate the candidates
    # already carry.
    lsh_bands: int = 32
    lsh_rows: int = 2                # bands*rows must == num_perm

    # --- directional edge predicate (reference lib/sequence_error.py:47-53:
    # hamming == threshold AND count[a] >= 2*count[b]-1; we generalize the
    # distance test to <= threshold over SimHash bits — documented
    # divergence, SURVEY.md §2.5 C1) ---
    hamming_threshold: int = 3
    jaccard_threshold: float = 0.5   # MinHash-estimated Jaccard gate (OR'd
                                     # with the SimHash ball — text token
                                     # edits diverge SimHash faster than
                                     # ACGT point errors diverge UMIs)

    # --- substring ("suffix-array") pass: long verbatim overlaps
    # (analog of the optical-duplicate second detector,
    # reference lib/optical_duplicates.py). Content-anchored token
    # windows: shared runs of ~anchor_stride+window tokens are caught. ---
    substring_window_tokens: int = 24   # tokens per verbatim window
    substring_anchor_stride: int = 8    # expected gap between anchors

    # --- fingerprint input cap ---
    # When set, every fingerprint (shingles -> MinHash/SimHash, winnowing
    # windows) is computed over only the FIRST N tokens of norm_text.
    # Semantics change, documented: two documents identical in their first
    # N tokens are near-dup candidates even if their tails differ, and a
    # verbatim overlap living entirely past token N is invisible to the
    # substring pass. Default chosen from data (NOTES "fingerprint_max_tokens:
    # recall-vs-cap, measured"): on 32k-token docs, uniform-edit near-dups
    # keep recall 1.0 at ANY cap (prefix similarity estimates global
    # similarity) while tail-only verbatim overlaps drop to 0.0 the
    # moment the cap ends before the overlap; families-stage kernel cost
    # fell 6.3s -> 1.2s at cap 4096. 65536 (~0.4 MB of text) never binds
    # on realistic web pages or any board/test corpus — the SQL oracles
    # do NOT mirror the cap, and stay exact because it never triggers
    # there — but bounds the per-doc kernel cost of pathological
    # multi-megabyte pages, the families stage's straggler tail at
    # 10^12-doc scale. Production runs on long-document corpora where
    # tail-overlap dedup matters must raise or disable it.
    fingerprint_max_tokens: int | None = 65536

    # --- skew / bucket control ---
    max_bucket_families: int = 512   # all-pairs cap per LSH bucket
    cc_max_iters: int = 25           # label-propagation fixpoint bound

    # --- estimator selection (reference lib/markdup_sam.py:53-62;
    # CLI default weighted_average2, reference dedup.py:18) ---
    algorithm: str = "naive"         # naive|weighted_average|weighted_average2|cluster
    kmax: int = 10                   # Poisson-mixture max components
    keyspace_size: int = 2**20       # "unobserved keyspace" |alphabet|^L analog
                                     # (reference lib/umi_data.py:49-50); config
                                     # constant because 2^64 is meaningless here

    # --- misc ---
    seed: int = 42
    # never read by the engine (get_spark and the job CLI set
    # spark.sql.shuffle.partitions); kept because benchmark workloads,
    # tests and scripts pass it and checkpoint manifests compare
    # asdict(config)
    shuffle_partitions: int = 32

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_perm ({self.num_perm})"
            )


DEFAULT_CONFIG = DedupConfig()
