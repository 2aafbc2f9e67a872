"""Round-4 closes for VERDICT r3 #5/#6: degree-ordered triangle
orientation (wedge-count drop on a skewed star, count unchanged) and
the profiler's approx distinct mode (±2% tolerance, no Expand)."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.queries.behavioral import (
    _count_triangles_degree_oriented,
)
from udacity_capstone_data_engineering_spark.queries.relational import profile_orders_impl


def _star_fixture(spark):
    """A skewed star whose hub id sits MID-RANGE: id orientation then
    gives the hub both in- and out-edges, so wedge enumeration at the
    hub goes quadratic (indeg·outdeg ≈ (d/2)²); degree orientation
    points every hub edge INWARD and kills those wedges. Two closing
    edges make exactly two triangles."""
    hub = 20
    edges = [(i, hub) for i in range(20)] + [(hub, j) for j in range(21, 42)]
    edges += [(1, 21), (2, 22)]  # close triangles (1,20,21), (2,20,22)
    df = spark.createDataFrame(edges, "pa long, pb long")
    deg = (
        df.select(F.col("pa").alias("node"))
        .unionAll(df.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return df, deg


def _id_oriented(edges):
    """The pre-round-4 orientation: canonical pa < pb as-is."""
    return edges.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    )


def _degree_oriented(edges, deg):
    da = deg.select(F.col("node").alias("pa"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("pb"), F.col("degree").alias("__db"))
    e = edges.join(da, "pa").join(db, "pb")
    lower = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("pa") < F.col("pb"))
    )
    return e.select(
        F.when(lower, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(lower, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    )


def _wedges(directed):
    e1, e2 = directed.alias("e1"), directed.alias("e2")
    return e1.join(e2, F.col("e1.dst") == F.col("e2.src")).count()


def _triangles(directed):
    e1, e2, e3 = directed.alias("e1"), directed.alias("e2"), directed.alias("e3")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .count()
    )


def test_degree_orientation_drops_skewed_wedges_same_count(spark):
    edges, deg = _star_fixture(spark)
    by_id = _id_oriented(edges)
    by_deg = _degree_oriented(edges, deg)
    # same triangles either way (any total vertex order -> DAG with
    # exactly one directed copy per triangle) ...
    assert _triangles(by_id) == 2
    assert _triangles(by_deg) == 2
    assert (
        _count_triangles_degree_oriented(edges, deg).collect()[0]["value"] == 2
    )
    # ... but the hub's quadratic wedge set exists only under the id
    # orientation (indeg·outdeg = 20·21 at the hub + the leaf wedges)
    w_id, w_deg = _wedges(by_id), _wedges(by_deg)
    assert w_id >= 20 * 21
    assert w_deg < 20
    assert w_deg < w_id


def test_profile_orders_approx_within_tolerance(spark, sf_dir):
    exact = {
        r["col"]: r.asDict()
        for r in profile_orders_impl(spark, sf_dir, "exact").collect()
    }
    approx = {
        r["col"]: r.asDict()
        for r in profile_orders_impl(spark, sf_dir, "approx").collect()
    }
    assert set(exact) == set(approx)
    for c, er in exact.items():
        ar = approx[c]
        # everything except the sketched distinct count is identical
        for key in ("n_rows", "n_nulls", "min_repr", "max_repr"):
            assert ar[key] == er[key], (c, key)
        tol = max(2, 0.02 * er["n_distinct"])
        assert abs(ar["n_distinct"] - er["n_distinct"]) <= tol, (
            c,
            er["n_distinct"],
            ar["n_distinct"],
        )


def test_profile_orders_approx_plan_has_no_expand(spark, sf_dir):
    exact_plan = (
        profile_orders_impl(spark, sf_dir, "exact")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    approx_plan = (
        profile_orders_impl(spark, sf_dir, "approx")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the exact multi-distinct pays the Expand multiplier; the HLL
    # sketch pass must not
    assert "Expand" in exact_plan
    assert "Expand" not in approx_plan
