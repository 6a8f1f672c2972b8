"""Tests for library-size estimation (G10). The position histogram (G6)
is the board's SQL ``position_histogram`` query, checked against its
oracle in ``tests/test_entry.py``."""

from __future__ import annotations

import math

from umi_dedup_spark.operators.stats import estimate_library_size, lambert_w0


def test_lambert_w_and_library_size():
    # W(x) e^{W(x)} == x on a few points
    for x in (0.1, 0.5, 1.0, 2.0, -0.2):
        w = lambert_w0(x)
        assert abs(w * math.exp(w) - x) < 1e-6
    # library size: distinct == total -> degenerate lower bound
    assert estimate_library_size(10, 10) == 10
    # classic sanity: half the reads distinct -> library a bit above distinct
    est = estimate_library_size(500, 1000)
    assert 500 < est < 1000
