"""Distributed global rank / prefix-sum helper (VERDICT r3 #1).

Two layers of evidence:
  1. EQUIVALENCE — ``ranked_prefix``/``global_ntile`` reproduce the
     single-window ``row_number``/running-``sum``/``ntile`` results
     bit-for-bit, including under ties, descending keys, decimal
     values, and arbitrary input repartitioning.
  2. PLAN SHAPE — the four rewritten analytics queries (rfm, gini,
     pareto, sweep-line) plus the chi-square marginal contain NO
     unpartitioned window over a data-sized relation: every
     windowspecdefinition in their physical plans is either
     partitioned or runs over the bucket-count-sized offsets
     relation (identified by the ``__gr_bkt`` ordering column).
"""

from __future__ import annotations

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.ranking import (
    global_ntile,
    ranked_prefix,
)

from tests.conftest import physical_plan as _plan


def _demo_df(spark, n=403, n_parts=7):
    # deterministic synthetic keys with heavy ties: k has ~20 distinct
    # values, id is the unique tiebreak, v is a decimal money value
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") * 37 % 20).alias("k"),
            ((F.col("id") * 13 % 100) / F.lit(4.0))
            .cast("decimal(18,2)")
            .alias("v"),
        )
        .repartition(n_parts)
    )


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_global_row_number_matches_single_window(spark):
    df = _demo_df(spark)
    got = ranked_prefix(df, key="k", tiebreaks=["id"], rn_col="rn")
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k", "id")).cast("long")
    )
    assert _rows(got, ["id", "rn"]) == _rows(want, ["id", "rn"])


def test_global_row_number_descending(spark):
    df = _demo_df(spark)
    got = ranked_prefix(df, key="v", tiebreaks=["id"], descending=True, rn_col="rn")
    want = df.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.desc("v"), "id")).cast("long"),
    )
    assert _rows(got, ["id", "rn"]) == _rows(want, ["id", "rn"])


def test_global_cumsum_exact_decimal(spark):
    df = _demo_df(spark)
    got = ranked_prefix(
        df, key="k", tiebreaks=["id"], value="v", cum_col="c", total_col="t"
    ).select("id", F.col("c").cast("decimal(28,2)"), F.col("t").cast("decimal(28,2)"))
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "id",
        F.sum("v").over(w).cast("decimal(28,2)").alias("c"),
        F.sum("v").over(Window.partitionBy()).cast("decimal(28,2)").alias("t"),
    )
    assert _rows(got, ["id", "c", "t"]) == _rows(want, ["id", "c", "t"])


def test_global_ntile_matches_builtin(spark):
    # cover the uneven-tile remainder logic and the n < tiles edge
    for n, tiles in [(403, 5), (100, 7), (3, 5), (1, 4)]:
        df = _demo_df(spark, n=n)
        got = global_ntile(df, key="k", tiebreaks=["id"], n_tiles=tiles, out_col="q")
        want = df.withColumn(
            "q", F.ntile(tiles).over(Window.orderBy("k", "id"))
        )
        assert _rows(got, ["id", "q"]) == _rows(want, ["id", "q"]), (n, tiles)


def test_repartition_invariance(spark):
    df1 = _demo_df(spark, n_parts=3)
    df2 = _demo_df(spark, n_parts=17)
    a = _rows(
        ranked_prefix(df1, key="k", tiebreaks=["id"], value="v", rn_col="rn", cum_col="c"),
        ["id", "rn", "c"],
    )
    b = _rows(
        ranked_prefix(df2, key="k", tiebreaks=["id"], value="v", rn_col="rn", cum_col="c"),
        ["id", "rn", "c"],
    )
    assert a == b


def test_bucket_count_independence(spark):
    df = _demo_df(spark)
    a = _rows(ranked_prefix(df, "k", ["id"], rn_col="rn", n_buckets=2), ["id", "rn"])
    b = _rows(ranked_prefix(df, "k", ["id"], rn_col="rn", n_buckets=31), ["id", "rn"])
    assert a == b


def test_null_keys_match_single_window_both_directions(spark):
    # ADVICE r4: nulls must land nulls-FIRST under ASC and nulls-LAST
    # under DESC, matching Spark's default window null ordering.
    df = _demo_df(spark, n=97).select(
        "id",
        F.when(F.col("id") % 11 == 0, F.lit(None)).otherwise(F.col("k")).alias("k"),
        "v",
    )
    for desc in (False, True):
        order = F.desc("k") if desc else F.asc("k")
        got = ranked_prefix(df, key="k", tiebreaks=["id"], descending=desc, rn_col="rn")
        want = df.withColumn(
            "rn", F.row_number().over(Window.orderBy(order, "id")).cast("long")
        )
        assert _rows(got, ["id", "rn"]) == _rows(want, ["id", "rn"]), desc


def test_plan_construction_is_lazy(spark):
    # ADVICE r4: building the ranked DataFrame must run no Spark jobs
    # (fences are an in-plan aggregate, not an eager approxQuantile).
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = _demo_df(spark)
    out = ranked_prefix(df, "k", ["id"], value="v", rn_col="rn", cum_col="c")
    out = global_ntile(out, key="v", tiebreaks=["id"], out_col="q")
    _ = out.schema  # analysis only
    after = set(tracker.getJobIdsForGroup())
    assert after == before, f"plan construction launched jobs: {after - before}"


def test_fence_broadcast_computed_once(spark):
    # Branch agreement is structural: the fence percentile aggregate
    # must materialize as ONE BroadcastExchange, referenced by the
    # second consumer through ReusedExchange — never two independent
    # (and potentially divergent) fence computations in one action.
    df = _demo_df(spark)
    out = ranked_prefix(df, "k", ["id"], value="v", rn_col="rn", cum_col="c")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # count only the AQE final plan (before the echoed initial plan)
    final = plan.split("+- == Initial Plan ==")[0]
    fence_aggs = len(re.findall(r"ObjectHashAggregate.*\bpercentile_approx", final))
    assert fence_aggs <= 2, f"fence agg duplicated in final plan:\n{final}"
    assert "ReusedExchange" in final, final


def test_single_bucket_degenerates_gracefully(spark):
    df = _demo_df(spark, n=10)
    got = ranked_prefix(df, "k", ["id"], rn_col="rn", n_buckets=1)
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k", "id")).cast("long")
    )
    assert _rows(got, ["id", "rn"]) == _rows(want, ["id", "rn"])


# ---------------------------------------------------------------------------
# Plan shape: no data-sized unpartitioned windows in the rewritten family
# ---------------------------------------------------------------------------


def _window_specs(plan: str) -> list[str]:
    """Extract every balanced-paren windowspecdefinition(...) body."""
    specs = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        depth, j = 1, m.end()
        while depth and j < len(plan):
            depth += plan[j] == "("
            depth -= plan[j] == ")"
            j += 1
        specs.append(plan[m.end() : j - 1])
    return specs


def _is_partitioned(spec: str) -> bool:
    """A windowspecdefinition lists partition columns FIRST (bare
    attribute refs), then order columns ('x ASC NULLS FIRST'), then
    the frame. Unpartitioned ⇒ the first top-level arg is an order
    column or the frame itself."""
    depth, first = 0, []
    for ch in spec:
        if ch == "," and depth == 0:
            break
        depth += ch == "("
        depth -= ch == ")"
        first.append(ch)
    head = "".join(first)
    return not (
        " ASC" in head or " DESC" in head or head.startswith("specifiedwindowframe")
    )


def test_no_data_sized_unpartitioned_window_in_analytics_family(catalog):
    for name in (
        "rfm_customer_segments",
        "customer_spend_gini",
        "parts_abc_pareto",
        "concurrent_sessions_peak",
        "event_weekday_chisq",
    ):
        plan = _plan(catalog[name])
        bad = [
            s
            for s in _window_specs(plan)
            if not _is_partitioned(s) and "__gr_bkt" not in s
        ]
        assert not bad, f"{name}: unpartitioned data-sized window specs: {bad}"
        # every single-partition exchange must collapse a scalar
        # aggregate (keys=[]) or the bucket-offsets relation
        # (keys=[__gr_bkt…]) — never a data-sized sort/window input
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert (
                "HashAggregate(keys=[]" in child
                or "HashAggregate(keys=[__gr_bkt" in child
            ), f"{name}: SinglePartition over non-tiny input: {child.strip()}"


def test_ranking_helper_plan_shape(spark):
    df = _demo_df(spark)
    out = ranked_prefix(df, "k", ["id"], value="v", rn_col="rn", cum_col="c")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the data-sized window is partitioned by the bucket id and the
    # offsets come back via a broadcast hash join, not a shuffle
    assert "BroadcastHashJoin" in plan
    for s in _window_specs(plan):
        assert _is_partitioned(s) or "__gr_bkt" in s, s
