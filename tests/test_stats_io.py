"""Tests for frequency-table IO (S5/S6), position histogram (G6) and
library-size estimation (G10)."""

from __future__ import annotations

import math

import pytest

from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.io import read_frequency_table, write_frequency_table
from umi_dedup_spark.operators.exact import exact_families, prepare_docs
from umi_dedup_spark.operators.stats import (
    estimate_library_size,
    lambert_w0,
    position_histogram,
)
from umi_dedup_spark.synth import make_pages


@pytest.fixture(scope="module")
def fams(spark):
    pages = make_pages(n_docs=80, seed=5).to_spark(spark)
    return exact_families(prepare_docs(pages, DedupConfig())).localCheckpoint()


def test_frequency_table_roundtrip(spark, fams, tmp_path):
    path = str(tmp_path / "freq")
    write_frequency_table(fams, path)
    back = read_frequency_table(spark, path)
    want = {(r["norm_hash"], r["fam_count"]) for r in fams.collect()}
    got = {(r["norm_hash"], r["fam_count"]) for r in back.collect()}
    assert got == want


def test_frequency_table_tolerates_malformed(spark, tmp_path):
    p = tmp_path / "freq2"
    p.mkdir()
    (p / "part-00000").write_text("123\t4\nbadline\n456\t7\n\n99\n")
    df = read_frequency_table(spark, str(p))
    assert {(r["norm_hash"], r["fam_count"]) for r in df.collect()} == {(123, 4), (456, 7)}


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
