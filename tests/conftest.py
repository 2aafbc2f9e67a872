from __future__ import annotations

import os
import sys
from collections.abc import Mapping

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from udacity_capstone_data_engineering_spark import get_spark
from udacity_capstone_data_engineering_spark.queries import queries

# Correctness tests default to the smallest scale factor for speed;
# set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to match the driver.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


def physical_plan(df) -> str:
    """The physical plan Catalyst makes for ``df``, planned afresh: a
    ``catalog`` row is shared across tests and may already have run, and
    the adaptive plan of a DataFrame that ran prints its final plan
    beside its initial one."""
    return df.select("*")._jdf.queryExecution().executedPlan().toString()


class _Catalog(Mapping):
    """Every registered catalog row by name, each built at most once per
    session, on first read, and always handed back as the same DataFrame.
    A test whose subject is the build itself (repeated builds, a patched
    constant, a count of build jobs) calls the row's callable instead."""

    def __init__(self, spark, sf_dir):
        self._spark, self._sf_dir = spark, sf_dir
        self._queries = queries()
        self._built = {}

    def __getitem__(self, name):
        if name not in self._built:
            self._built[name] = self._queries[name](self._spark, self._sf_dir)
        return self._built[name]

    def __iter__(self):
        return iter(self._queries)

    def __len__(self):
        return len(self._queries)


@pytest.fixture(scope="session")
def catalog(spark, sf_dir):
    return _Catalog(spark, sf_dir)
