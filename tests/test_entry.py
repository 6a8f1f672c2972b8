"""Driver-contract tests: replicate the driver's DuckDB-oracle comparison
locally at sf0.01 (SURVEY.md §5 item 5).

Comparison = row count + column names + order-insensitive value hash
(columns sorted by name, rows sorted by their string tuple) — the same
discipline the driver applies, so a green here predicts a green
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


def _canon(value):
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return f"{value:.9g}"
    return str(value)


def _hashable(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    return [tuple(cols[i] for i in order)] + out


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
            )
        except Exception:
            pass
    return con


ORACLE_BACKED = sorted(
    list(entry_mod.SQL_QUERIES) + list(entry_mod.OPERATOR_QUERIES)
)


@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_sql_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(entry_mod.oracle_sql()[name])
    duck_cols = rel.columns
    duck_rows = rel.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    sh = _hashable([c.lower() for c in spark_cols], spark_rows)
    dh = _hashable([c.lower() for c in duck_cols], duck_rows)
    if sh != dh:
        diffs = [(a, b) for a, b in zip(sh, dh) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_every_query_has_an_oracle():
    # the parametrized oracle comparison above covers every query only
    # while the two tables name the same queries
    names = set(entry_mod.queries())
    assert names == set(entry_mod.oracle_sql())
    assert len(names) == 39


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
