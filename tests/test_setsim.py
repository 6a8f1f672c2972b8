"""Set-similarity join == quadratic all-pairs ground truth.

The operator (operators/setsim.py) must return EXACTLY the rows of the
naive per-group quadratic self-join for every corpus, on both of its
paths: prefix filtering is a pure pruning of provably-unqualifiable
pairs, and the bitset path computes the same Jaccard double. The ground
truth here is the same quadratic Spark SQL that serves as the DuckDB
oracle mirror (__spark_entry__.q_ngram_jaccard_pairs), so these tests
also pin the entry-query parity locally.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from umi_dedup_spark.operators import setsim
from umi_dedup_spark.operators.setsim import jaccard_similarity_join

import __spark_entry__ as entry_mod


def _tset(docs):
    return docs.select(
        "doc_id",
        "source",
        F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")).alias("tset"),
    )


def _quadratic(spark, docs, threshold):
    docs.createOrReplaceTempView("documents")
    sql = entry_mod.q_ngram_jaccard_pairs("s").replace(
        "cast(0.5 AS double)", f"cast({threshold} AS double)"
    )
    return spark.sql(sql)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _prefix_rows(tset, **kw):
    """Rows of the prefix-filtered path, forced by a probe that finds no
    small universe."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(setsim, "_small_universe_vocab", lambda base: None)
        return _rows(jaccard_similarity_join(tset, **kw))


def _assert_match(spark, docs, threshold=0.5):
    # the forced prefix path and the default path (these corpora all have
    # tiny vocabularies, so the default probe selects the bitset path)
    # must both agree with the ground truth
    want = _rows(_quadratic(spark, docs, threshold))
    kw = dict(id_col="doc_id", group_col="source", threshold=threshold)
    prefix = _prefix_rows(_tset(docs), **kw)
    default = _rows(jaccard_similarity_join(_tset(docs), **kw))
    assert prefix == want, "prefix"
    assert default == want, "default"


def _probe_base(tset):
    # the column layout jaccard_similarity_join hands its probe
    return tset.select(
        F.col("doc_id").alias("_id"), F.col("tset").alias("_tset")
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_matches_quadratic_on_driver_testdata(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = _rows(_quadratic(spark, docs, 0.5))
    assert len(want) > 100  # non-trivial corpus
    # the driver corpus has a 31-token vocabulary, so the default path is
    # the bitset path the declared query actually runs
    assert setsim._small_universe_vocab(_probe_base(_tset(docs))) is not None
    kw = dict(id_col="doc_id", group_col="source", threshold=0.5)
    assert _prefix_rows(_tset(docs), **kw) == want, "prefix"
    assert _rows(jaccard_similarity_join(_tset(docs), **kw)) == want, "bitset"


def test_boundary_identical_and_disjoint(spark):
    docs = _mk(spark, [
        # J exactly 0.5: {a b} vs {a b c d} -> 2/4 (boundary kept)
        (1, "s1", "a b"),
        (2, "s1", "a b c d"),
        # identical docs -> J = 1.0
        (3, "s1", "x y z"),
        (4, "s1", "x y z"),
        # J just under: {a b c} vs {a b c d e f g} -> 3/7
        (5, "s1", "a b c"),
        (6, "s1", "a b c d e f g"),
        # disjoint
        (7, "s1", "p q r"),
        # same text, different source -> never paired
        (8, "s2", "a b"),
        # duplicate tokens collapse: "a a b b" == {a b}
        (9, "s1", "a a b b"),
    ])
    _assert_match(spark, docs)
    got = _rows(jaccard_similarity_join(
        _tset(docs), id_col="doc_id", group_col="source", threshold=0.5
    ))
    assert (1, 2, 0.5) in got          # boundary pair kept
    assert (3, 4, 1.0) in got          # identical pair
    assert (1, 9, 1.0) in got          # duplicate tokens collapsed
    assert not any(7 in (a, b) for a, b, _ in got)
    assert not any(8 in (a, b) for a, b, _ in got)


def test_hot_token_and_skew(spark):
    # every doc shares a stopword-like hot token; families of near-dups;
    # a long boilerplate band in one source (the skew case the quadratic
    # plan handles trivially and prefix filtering must not corrupt)
    rows = []
    for i in range(60):
        rows.append((100 + i, "hot", f"the common w{i % 7} w{(i + 1) % 7} u{i}"))
    for i in range(40):
        rows.append((200 + i, "band", "the quick brown fox jumps over the lazy dog"))
    rows.append((300, "band", "the quick brown fox jumps over a sleepy dog"))
    docs = _mk(spark, rows)
    _assert_match(spark, docs)


@pytest.mark.parametrize("threshold", [0.3, 0.7, 1.0])
def test_other_thresholds(spark, threshold):
    docs = _mk(spark, [
        (1, "s", "a b c d e"),
        (2, "s", "a b c d f"),
        (3, "s", "a b x y z"),
        (4, "s", "a b c d e"),
        (5, "s", "m"),
        (6, "s", "m"),
        (7, "s", "m n"),
    ])
    _assert_match(spark, docs, threshold)


def test_null_text_and_null_source(spark):
    docs = _mk(spark, [
        (1, "s", None),        # null text: no tokens, no pairs
        (2, "s", "a b"),
        (3, "s", "a b"),
        (4, None, "a b"),      # null source matches nothing (SQL equi-join)
        (5, None, "a b"),
    ])
    _assert_match(spark, docs)
    got = _rows(jaccard_similarity_join(
        _tset(docs), id_col="doc_id", group_col="source", threshold=0.5
    ))
    assert got == [(2, 3, 1.0)]


def test_null_token_falls_back_to_array_path(spark):
    # a null element in a token set has no bit in the vocabulary mask:
    # the probe must send the corpus down the prefix path, not raise
    docs = spark.createDataFrame(
        [(1, "s", ["a", "b", None]), (2, "s", ["a", "b"]),
         (3, "s", ["a", "b", "c"]), (4, "s", ["x"])],
        "doc_id long, source string, tset array<string>",
    )
    assert setsim._small_universe_vocab(_probe_base(docs)) is None
    kw = dict(id_col="doc_id", group_col="source", threshold=0.5)
    want = _prefix_rows(docs, **kw)
    assert want == [(1, 2, 0.6667), (1, 3, 0.5), (2, 3, 0.6667)]
    assert _rows(jaccard_similarity_join(docs, **kw)) == want


def test_no_group_column(spark):
    # group_col=None: pairs across the whole corpus
    docs = _mk(spark, [
        (1, "s1", "a b c"),
        (2, "s2", "a b c"),
        (3, "s3", "x y z"),
    ])
    got = _rows(jaccard_similarity_join(
        _tset(docs), id_col="doc_id", threshold=0.5
    ))
    assert got == [(1, 2, 1.0)]


def test_streaming_input_rejected(spark, tmp_path):
    stream = spark.readStream.schema(
        "doc_id long, source string, text string"
    ).parquet(str(tmp_path))
    with pytest.raises(ValueError, match="batch-only"):
        jaccard_similarity_join(_tset(stream), id_col="doc_id", group_col="source")


def test_bitset_path_properties(spark):
    # vocab above the cap falls through to the prefix path (same result);
    # a 65-token vocabulary cannot fit a 64-bit mask
    rows = [(i, "s", f"t{i} t{(i + 1) % 65} shared") for i in range(65)]
    docs = _mk(spark, rows)
    assert setsim._small_universe_vocab(_probe_base(_tset(docs))) is None
    want = _rows(_quadratic(spark, docs, 0.5))
    got = _rows(jaccard_similarity_join(
        _tset(docs), id_col="doc_id", group_col="source", threshold=0.5
    ))
    assert got == want
    # groupless bitset join stays an equi-join (constant key), never a
    # cartesian/BNLJ
    small = _mk(spark, [(1, "s1", "a b c"), (2, "s2", "a b c"),
                        (3, "s3", "x y z")])
    out = jaccard_similarity_join(_tset(small), id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _rows(out) == [(1, 2, 1.0)]


def _job_ids(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_bitset_build_side_sized_by_broadcast_threshold(spark, join_threshold):
    # the bitset path engages while docs x BITSET_ROW_BYTES fits the
    # broadcast threshold; one doc more takes the prefix path, and a
    # negative threshold skips the probe without running a job
    k = 6
    rows = [(i, "s", f"a b c{i % 3}") for i in range(k + 1)]

    def run(n):
        docs = _mk(spark, rows[:n])
        want = _rows(_quadratic(spark, docs, 0.5))
        before = _job_ids(spark)
        out = jaccard_similarity_join(
            _tset(docs), id_col="doc_id", group_col="source", threshold=0.5
        )
        probe_jobs = _job_ids(spark) - before
        assert _rows(out) == want, n
        plan = out._jdf.queryExecution().executedPlan().toString()
        return "bit_count" in plan, probe_jobs

    with join_threshold(str(k * setsim.BITSET_ROW_BYTES)):
        bitset, probe_jobs = run(k)
        assert bitset and probe_jobs
        assert run(k + 1)[0] is False
    with join_threshold("-1"):
        assert run(k) == (False, set())


def test_plan_has_no_quadratic_join(spark):
    docs = _mk(spark, [(1, "s", "a b"), (2, "s", "a b c")])
    plan = jaccard_similarity_join(
        _tset(docs), id_col="doc_id", group_col="source"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_threshold_validation(spark):
    docs = _mk(spark, [(1, "s", "a")])
    with pytest.raises(ValueError):
        jaccard_similarity_join(_tset(docs), threshold=0.0)
    with pytest.raises(ValueError):
        jaccard_similarity_join(_tset(docs), threshold=1.5)
