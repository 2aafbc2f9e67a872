"""Phase-4 tier: SimHash Hamming-banded pairs (completeness vs brute
force), TPC-H Q3/Q5 multi-join plan shapes, approx-percentile bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import physical_plan as _plan
from udacity_capstone_data_engineering_spark.operators.dedup import (
    simhash,
    simhash_near_dup_pairs,
)


# ---------------------------------------------------------------------------
# simhash_near_dup_pairs
# ---------------------------------------------------------------------------


def test_simhash_pairs_complete_vs_brute_force(spark):
    """The banded join must find EXACTLY the brute-force Hamming<=3 set
    (pigeonhole completeness) on hand-built signatures."""
    sigs = [
        (1, 0b0000_0000_0000_0000_0000_0000_0000_0000),
        (2, 0b0000_0000_0000_0000_0000_0000_0000_0111),  # d(1,2)=3 -> pair
        (3, 0b0000_0000_0000_0000_0000_0000_1111_0000),  # d(1,3)=4 -> no
        (4, 0b1000_0000_0000_0000_0000_0000_0000_0000),  # d(1,4)=1 -> pair
        (5, 0b0101_0101_0101_0101_0101_0101_0101_0101),  # far from all
    ]
    df = spark.createDataFrame(sigs, "id bigint, simhash bigint")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs(df, "id", bits=32, bands=4).collect()
    }
    import itertools

    want = set()
    for (ia, sa), (ib, sb) in itertools.combinations(sigs, 2):
        d = bin(sa ^ sb).count("1")
        if d <= 3:
            want.add((min(ia, ib), max(ia, ib), d))
    assert got == want
    assert (1, 2, 3) in got and (1, 4, 1) in got


def test_simhash_pairs_rejects_unsafe_params(spark):
    df = spark.createDataFrame([(1, 0)], "id bigint, simhash bigint")
    with pytest.raises(ValueError, match="divisible"):
        simhash_near_dup_pairs(df, "id", bits=32, bands=5)
    with pytest.raises(ValueError, match="completeness"):
        simhash_near_dup_pairs(df, "id", bits=32, bands=4, max_hamming=4)


def test_simhash_pairs_single_shuffle(catalog):
    """One exchange for the bucket groupBy, one behind the final
    distinct — no join-driven exchanges of the corpus itself."""
    plan = _plan(catalog["simhash_near_dup_pairs"])
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3  # tokens agg + bucket + distinct


# ---------------------------------------------------------------------------
# TPC-H Q3 / Q5 plan shapes
# ---------------------------------------------------------------------------


def test_q3_filters_pushed_and_topk_no_sort(catalog):
    plan = _plan(catalog["tpch_q3_shipping_priority"])
    assert "TakeOrderedAndProject" in plan  # top-10, not a global sort
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "BatchEvalPython" not in plan


def test_q3_rows_match_duckdb_shape(catalog):
    rows = catalog["tpch_q3_shipping_priority"].collect()
    assert len(rows) <= 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q5_fixed_dims_broadcast(catalog):
    """region/nation must ride broadcast joins; no cartesian anywhere."""
    plan = _plan(catalog["tpch_q5_local_supplier_volume"])
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan


def test_q5_revenue_positive_per_nation(catalog):
    rows = catalog["tpch_q5_local_supplier_volume"].collect()
    assert rows, "ASIA-region year slice should be non-empty"
    assert all(r.revenue > 0 for r in rows)
    assert len({r.n_name for r in rows}) == len(rows)


# ---------------------------------------------------------------------------
# approx_quantile_report
# ---------------------------------------------------------------------------


def test_approx_quantiles_within_bound(catalog):
    rows = catalog["approx_quantile_report"].collect()
    assert {r.q for r in rows} == {0.5, 0.9, 0.99}
    assert all(r.within_bound for r in rows)


# ---------------------------------------------------------------------------
# gopher_quality_flags
# ---------------------------------------------------------------------------


def test_gopher_flags_rules_on_synthetic(spark):
    from udacity_capstone_data_engineering_spark.functions.text import (
        gopher_quality_flags,
    )

    docs = spark.createDataFrame(
        [
            # 60 normal words incl. stopwords -> keep
            (1, "the quick brown fox jumps over the lazy dog and " * 6),
            (2, "short doc"),  # word count fails
            (3, "### " * 60),  # symbol ratio + alpha fail
            (4, ("aaaaaaaaaaaaaaaaaaaaaa " * 60)),  # mean word len fails
        ],
        "doc_id long, text string",
    )
    flags = {
        r.doc_id: r
        for r in gopher_quality_flags(docs, "text", "doc_id").collect()
    }
    assert flags[1].keep
    assert not flags[2].ok_word_count and not flags[2].keep
    assert not flags[3].ok_symbol_ratio and not flags[3].ok_alpha_words
    assert not flags[4].ok_mean_word_len and not flags[4].keep


def test_gopher_flags_map_only_plan(catalog):
    """The quality filter must stay a pure map stage: no key shuffle
    (the only allowed exchange is the small-scan fan-out round-robin),
    no Python evaluation."""
    plan = _plan(catalog["gopher_quality_flags"])
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
