"""Tests for the position histogram (G6) and library-size estimation
(G10)."""

from __future__ import annotations

import math

from umi_dedup_spark.operators.stats import (
    estimate_library_size,
    lambert_w0,
    position_histogram,
)


def test_position_histogram(spark):
    docs = spark.createDataFrame(
        [("a b c",), ("a x c",), ("q",)], "text string"
    )
    rows = position_histogram(docs, max_pos=3).collect()
    m = {(r["pos"], r["token"]): r["n"] for r in rows}
    assert m[(0, "a")] == 2 and m[(0, "q")] == 1
    assert m[(1, "b")] == 1 and m[(1, "x")] == 1
    assert m[(2, "c")] == 2


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
