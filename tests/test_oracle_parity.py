"""Every catalog query vs its DuckDB oracle — the same comparison the
driver runs (row count + schema width + order-insensitive values)."""

from __future__ import annotations

import math

import duckdb
import pytest

from udacity_capstone_data_engineering_spark.queries import oracle_sql, queries
from udacity_capstone_data_engineering_spark.sources.catalog import TABLES

from tests.conftest import TEST_SF_DIR

ORACLES = oracle_sql()
QUERIES = queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{TEST_SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def _rows(rows):
    return sorted(
        (tuple(_norm(v) for v in r) for r in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(catalog, duck, name):
    spark_df = catalog[name]
    got = _rows([tuple(r) for r in spark_df.collect()])
    want = _rows(duck.execute(ORACLES[name]).fetchall())
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}"
    )
    if got != want:
        diffs = [
            (g, w) for g, w in zip(got, want) if g != w
        ][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_oracle_free_query_runs(catalog, name):
    df = catalog[name]
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
