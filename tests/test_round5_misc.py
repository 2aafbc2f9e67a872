"""Round-5 gap closures: the HLL error-bound test the r4 docstring
claimed (VERDICT r4 #2) and the registered approx-profiler row (#7)."""

from __future__ import annotations

import pytest

from tests.test_ivf import IVF_PATHS, ivf_path, three_paths
from udacity_capstone_data_engineering_spark import queries as catalog

QUERIES = catalog.queries()


def test_approx_distinct_users_error_bound(spark, sf_dir):
    """|approx − exact| / exact ≤ 3·rsd per event_type.  The query
    computes both columns side by side (rsd pinned 0.02 in the query),
    so the bound is checked on its own output — 3 standard errors is
    the standard HLL++ confidence band."""
    rows = QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    assert rows, "no event types profiled"
    for r in rows:
        exact = r.exact_users
        assert exact > 0, r.event_type
        rel_err = abs(r.approx_users - exact) / exact
        assert rel_err <= 3 * 0.02, (
            f"{r.event_type}: approx {r.approx_users} vs exact {exact} "
            f"(rel err {rel_err:.4f} > 3*rsd)"
        )


def test_profile_orders_approx_registered_matches_impl(spark, sf_dir):
    """The catalog row must BE the approx impl (same rows), so the
    tolerance + no-Expand evidence in test_round4_misc.py covers the
    public query surface too."""
    from udacity_capstone_data_engineering_spark.queries_phase8 import (
        profile_orders_impl,
    )

    got = sorted(
        tuple(r) for r in QUERIES["profile_orders_approx"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in profile_orders_impl(spark, sf_dir, "approx").collect()
    )
    assert got == want


def test_ivf_regimes_identical(spark, sf_dir, monkeypatch):
    """VERDICT r4 #3: the pair join, the broadcast scan kernel and the
    cell-packed grid return the same rows, cosines included (same
    probed cells, exact scoring, same tie rules) — and each call
    really took the path it names."""
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    got = three_paths(monkeypatch, load_table(spark, sf_dir, "embeddings"))
    assert got["pair_join"]
    assert got["broadcast"] == got["pair_join"]
    assert got["grid"] == got["pair_join"]


@pytest.mark.parametrize("path", IVF_PATHS)
def test_ivf_workload_queries_subset(spark, sf_dir, monkeypatch, path):
    """The queries= workload hook must return exactly the self-topk
    rows restricted to the workload's query ids, on each path."""
    from pyspark.sql import functions as F

    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    kw, _calls = ivf_path(monkeypatch, path)
    emb = load_table(spark, sf_dir, "embeddings")
    workload = emb.filter(F.col("vec_id") % 7 == 0)
    got = sorted(
        tuple(r)
        for r in ivf_topk(
            emb, "vec_id", "embedding", k=5, queries=workload, **kw
        )
        .select("query_id", "neighbor_id", "rnk")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_topk(emb, "vec_id", "embedding", k=5, **kw)
        .filter(F.col("query_id") % 7 == 0)
        .select("query_id", "neighbor_id", "rnk")
        .collect()
    )
    assert got and got == want


def test_driver_contract_from_foreign_cwd():
    """r5: an external driver builds its OWN SparkSession from an
    arbitrary CWD (no repo on PYTHONPATH, session created BEFORE the
    contract import — the worst launch shape). UDF-closure queries
    must still run: the package ships its code to the Python workers by
    value with every task, so the workers never import it."""
    import os
    import subprocess
    import sys

    entry_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    prog = f"""
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", {entry_path!r})
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
n = mod.queries()["embedding_pq_topk"](
    spark, "/root/testdata/sf0.001").count()
assert n == 2500, n
print("FOREIGN_CWD_OK")
spark.stop()
"""
    env = {
        k: v
        for k, v in __import__("os").environ.items()
        if k != "PYTHONPATH"
    }
    out = subprocess.run(
        [sys.executable, "-c", prog],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "FOREIGN_CWD_OK" in out.stdout, out.stderr[-2000:]
