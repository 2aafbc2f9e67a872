"""Physical-plan shape assertions: the properties that matter at 100 TB
(pushdown to the scan, broadcast for small dims, map-side partial
aggregation, top-k without full sort) hold in the plans Catalyst
actually produces — not just in docstrings."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import physical_plan as _plan


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(catalog):
    df = catalog["pricing_summary"]
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_at_scan(catalog):
    # drop_columns must become scan-level pruning: text never read.
    df = catalog["drop_columns_docs"]
    plan = _plan(df)
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1][:200]


def test_small_dim_broadcast(catalog):
    df = catalog["flagship_nation_order_stats"]
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_before_shuffle(catalog):
    df = catalog["pricing_summary"]
    plan = _plan(df)
    # HashAggregate appears twice: partial (map-side) + final.
    assert plan.count("HashAggregate") >= 2


def test_global_topk_no_full_sort(catalog):
    df = catalog["global_top100_lineitems"]
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_window_topk_group_limit_pushdown(catalog):
    # Spark 3.5+/4.x pushes rank<=k into the shuffle as WindowGroupLimit.
    df = catalog["window_topk_orders"]
    assert "WindowGroupLimit" in _plan(df)


def test_anti_join_stays_hash_join(catalog):
    df = catalog["fk_orphan_lineitems"]
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_no_python_udfs_in_relational_tier(catalog):
    # Everything except the declared mapInPandas op must stay JVM-side:
    # BatchEvalPython / ArrowEvalPython in a plan means a Python worker
    # round-trip snuck into a hot path.
    declared_arrow = {
        "multimodal_features",  # mapInPandas payload decode
        "embedding_ivf_topk",   # batch matmul cell assignment + scoring
        "embedding_lsh_topk",   # batch matmul bucketing + scoring
        "embedding_pq_topk",    # batch encode + ADC candidate scan
        "embedding_ivfpq_topk", # cell-filtered ADC scan
        "ann_recall_report",    # composes the ANN queries above
        "rerank_two_stage_ann", # LSH stage-1 (batch matmul bucketing)
        "token_heavy_hitters_mg",  # Misra-Gries mapInPandas partials
        # r7: the exact-cosine anchors score through the broadcast
        # exact-accumulation Arrow kernel under the byte cap
        # (bit-identical to the JVM fold — manifest-pinned); the pair
        # stream carries ids only, vectors never cross Python per-row.
        "embedding_cosine_topk",
        "embedding_dup_pairs",
        "rerank_two_stage",     # exact stage-1 = brute_force -> kernel
        # r8: JL capture gate composes the brute-force exact baseline
        # (Arrow scoring kernel) with lsh_topk on the projection — both
        # already-declared boundaries; ids only cross Python.
        "jl_manifold_capture",
        # r9: the standing ANN index rows — the build encodes through
        # the declared Arrow encode/assign kernels; the serve probes +
        # ADC-scans + exact-reranks with the same kernels as
        # embedding_ivfpq_topk, plus the brute-force recall gate.
        "ann_index_build",
        "ann_standing_serve",
        # r10: append encodes the batch through the same declared
        # Arrow encode/assign kernels as the build row
        "ann_index_append",
        # r10: the dispatch facade routes to lsh_topk at gate scale and
        # gates recall against the brute-force Arrow anchor
        "ann_auto_dispatch",
    }
    for name, df in catalog.items():
        if name in declared_arrow:
            continue
        plan = _plan(df)
        assert "EvalPython" not in plan, f"{name} crosses into Python"


def test_whole_stage_codegen_on_flagship(catalog):
    df = catalog["flagship_nation_order_stats"]
    df.collect()  # AQE reveals codegen stages only in the FINAL plan
    # '*(n)' prefixes mark whole-stage-codegen stages in plan strings.
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final and "*(" in final


def test_lsh_join_partition_count_bounded(spark, sf_dir):
    # AQE must be allowed to coalesce; the session factory enables it.
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bucketed_join_no_shuffle(spark, sf_dir):
    # Co-located join: both sides bucketed on the join key with the same
    # bucket count -> SortMergeJoin with NO Exchange on either side.
    from udacity_capstone_data_engineering_spark.sources import write_bucketed
    from udacity_capstone_data_engineering_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(
        orders, "orders_bkt", ["o_orderkey"], 8, sort_by=["o_orderkey"]
    )
    write_bucketed(
        lineitem, "lineitem_bkt", ["l_orderkey"], 8, sort_by=["l_orderkey"]
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("orders_bkt")
            .join(
                spark.table("lineitem_bkt"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .count()
        )
        joined.collect()
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        join_side = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_side, "bucketed join still shuffles"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_sink_readback_partition_pruning(catalog):
    """The sink round-trip's read-back scan must show a non-empty
    PartitionFilters — directory-level pruning, not a data filter."""
    import re

    df = catalog["sink_roundtrip_partitioned"]
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"no partition pruning in:\n{plan[:2000]}"
    assert "o_orderstatus" in m.group(1)


def test_aqe_skew_join_splits_skewed_partitions(spark, sf_dir, tmp_path):
    """AQE must split a skewed join partition (skew=true in the final
    adaptive plan) when one key dominates — the runtime defense this
    engine leans on for LSH-bucket and hot-user skew at 100 TB. Local
    data is tiny, so the skew thresholds are shrunk to make the skew
    detectable; the assertion is about plan behavior, not size."""
    from udacity_capstone_data_engineering_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    # Pile ~180k replica rows onto user 1 via a 32-partition range
    # crossJoin: the range side gives the map stage many tasks, which
    # matters because AQE splits a skewed partition at MAP-BLOCK
    # granularity — a single-mapper shuffle cannot be split at all.
    hot = (
        spark.range(0, 3000)
        .crossJoin(F.broadcast(ev.filter(F.col("user_id") % 50 == 0).select("user_id")))
        .select(F.lit(1).cast("long").alias("user_id"))
    )
    left = ev.select("user_id").unionAll(hot)
    # The dim side must be a PLAIN pipeline: OptimizeSkewedJoin only
    # fires when both join inputs sit directly on ENSURE_REQUIREMENTS
    # shuffles — an aggregate (e.g. .distinct()) or a user repartition
    # between the shuffle and the join breaks the pattern and silently
    # disables skew handling. That constraint is itself the lesson this
    # test pins down for 100-TB query shapes.
    right = cust.select(F.col("c_custkey").cast("long").alias("user_id"), "c_name")
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        joined = left.join(right, "user_id").select(F.count(F.lit(1)).alias("n"))
        joined.collect()  # AQE finalizes the plan only on execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"no skew split in final plan:\n{plan[:3000]}"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_coloc_query_no_join_shuffle(catalog):
    """The registered bucketed_join_coloc query must sort-merge-join
    with zero Exchange under the join (the groupBy above it is the
    only legitimate shuffle)."""
    df = catalog["bucketed_join_coloc"]
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    below_join = plan.split("SortMergeJoin")[-1]
    assert "Exchange" not in below_join, "bucketed gate query still shuffles"


def test_jaccard_join_no_cartesian(catalog):
    """Prefix-filtered Jaccard must candidate-generate via an equi-join
    on shingle hashes — never a cross/nested-loop join."""
    df = catalog["ngram_jaccard_pairs"]
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a partitioned fact on its
    partition column against a selectively-filtered dim must insert a
    dynamicpruning subquery at the fact scan — at 100 TB this is the
    difference between scanning one partition's directory and the whole
    fact table when the filter arrives via the dim side."""
    from udacity_capstone_data_engineering_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    orders.withColumn(
        "cust_bucket", (F.col("o_custkey") % 10).cast("int")
    ).write.partitionBy("cust_bucket").parquet(str(tmp_path / "fact"))
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = cust.withColumn(
        "cust_bucket", (F.col("c_custkey") % 10).cast("int")
    ).filter(F.col("c_mktsegment") == "BUILDING")
    j = fact.join(dim, ["cust_bucket"]).groupBy("c_mktsegment").count()
    assert "dynamicpruning" in _plan(j).lower()


def test_partitioned_catalog_layout_prunes_and_dpp(spark, sf_dir, tmp_path):
    """VERDICT r2 #7: the CATALOG's own partitioned-at-rest layout —
    not an ad-hoc tmp table — must show (a) static partition pruning
    (non-empty PartitionFilters) for a date-ranged scan, and (b) a
    dynamicpruning subquery when the date filter arrives via a joined
    dim."""
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_partitioned,
        materialize_partitioned,
    )

    path = materialize_partitioned(spark, sf_dir, "events", str(tmp_path))
    ev = load_partitioned(spark, path)

    # (a) static pruning: the date predicate must land in
    # PartitionFilters (directory-level skip), not PushedFilters.
    ranged = ev.filter(F.col("event_date") == "2024-01-03").groupBy(
        "user_id"
    ).count()
    scan = _plan(ranged)
    pf = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_date" in pf, scan

    # (b) DPP: filter arrives via a dim join on the partition column.
    dim = (
        ev.select("event_date")
        .distinct()
        .withColumn("dow", F.dayofweek("event_date"))
        .filter(F.col("dow") == 2)
    )
    j = ev.join(dim.select("event_date"), ["event_date"]).groupBy().count()
    assert "dynamicpruning" in _plan(j).lower()


def test_correlated_subqueries_decorrelated(catalog):
    """Catalyst must rewrite the scalar/EXISTS subqueries into joins —
    a nested-loop (per-row subquery) plan would be O(n*m) at scale."""
    df = catalog["correlated_subqueries"]
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the EXISTS probe must become a set-based join (semi or outer+flag)
    assert "Join" in plan


def test_runtime_bloom_filter_join(spark, sf_dir):
    """Runtime row-level filtering: a selective dim filter must inject a
    bloom_filter_agg on the dim side and push the semi-filter into the
    fact scan side of the join. At 100 TB this prunes fact rows at the
    shuffle write, not after it. Local data is below the application-
    side size threshold, so it is zeroed to make injection observable —
    the assertion is about the rewrite, not the size heuristics."""
    from udacity_capstone_data_engineering_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    saved = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
            ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        assert "bloom_filter_agg" in _plan(j)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# TPC-H tier plan shapes (round 2)
# ---------------------------------------------------------------------------


def test_q19_disjunction_splits_to_both_scans(catalog):
    """Catalyst must derive per-side implications from the three OR'd
    cross-table arms and push them into BOTH parquet scans — without
    the split, the join would read unfiltered tables."""
    df = catalog["tpch_q19_disjunctive_revenue"]
    plan = _plan(df)
    part_scan = plan.split("part.parquet")[0]
    # part side: the brand/size disjunction reached the scan's filters
    assert "Brand#12" in part_scan and "Brand#23" in part_scan
    # lineitem side: the quantity-range disjunction reached its scan
    li_scan = plan.split("lineitem.parquet")[0].split("FileScan")[-1]
    assert "l_quantity" in li_scan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q4_exists_is_semi_join_with_residual(catalog):
    """The EXISTS with a cross-table date comparison must plan as a
    LeftSemi hash join (equi on orderkey, date residual) — never a
    correlated probe or nested loop."""
    df = catalog["tpch_q4_order_priority"]
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "INTERVAL '30'" in plan  # residual evaluated inside the join


def test_q11_shared_aggregate_persisted_once(catalog):
    """The per-part aggregate feeds both the threshold and filter
    branches; static ReuseExchange does not fire across them, so the
    query persists it — BOTH branches must read the cached relation
    (the plan string prints the cached relation's fill plan inline
    under each InMemoryTableScan, so the lineitem scan node appears
    twice in text but fills the cache once at materialization)."""
    df = catalog["tpch_q11_important_parts"]
    plan = _plan(df)
    assert plan.count("InMemoryTableScan") == 2
    # every lineitem scan in the text sits under an InMemoryRelation
    # fill plan, never as a direct (uncached) input of a join branch
    for segment in plan.split("InMemoryRelation")[0:1]:
        assert "lineitem.parquet" not in segment


def test_q21_single_lineitem_scan(catalog):
    """The aggregation-tower decorrelation must not re-scan lineitem
    per EXISTS branch: one scan feeds the per-(order,supplier) and
    per-order aggregates (vs two correlated self-joins in the literal
    formulation)."""
    df = catalog["tpch_q21_waiting_suppliers"]
    plan = _plan(df)
    # ss feeds po via ReusedExchange or a second aggregation over the
    # same shuffle — either way lineitem appears at most twice (once
    # for ss, and po derives from ss, not from a fresh scan).
    assert plan.count("lineitem.parquet") <= 2
    assert "CartesianProduct" not in plan


def test_no_cartesian_anywhere_and_bnlj_only_where_documented(catalog):
    """Global plan sweep over EVERY registered query: no CartesianProduct
    at all; BroadcastNestedLoopJoin only in (a) the brute-force ANN
    oracle baselines, which are quadratic BY DESIGN as correctness
    anchors, and (b) scalar-subquery threshold joins against 1-row
    broadcast aggregates, where a nested loop over one row is the
    cheapest possible plan. Any new query joining without keys shows
    up here before it ships."""
    bnlj_allowed = {
        # quadratic-by-design correctness baselines (documented)
        "ann_recall_report",
        "embedding_cosine_topk",
        "embedding_dup_pairs",
        "rerank_two_stage",  # stage-1 is the brute-force baseline (documented)
        # 1-row scalar-threshold broadcasts
        "approx_quantile_report",
        "tpch_q11_important_parts",
        "tpch_q15_top_supplier",
        "tpch_q22_lapsed_customers",
        # 1-row totals broadcasts replacing unpartitioned max/sum
        # windows (VERDICT r3 #1)
        "concurrent_sessions_peak",
        "rfm_customer_segments",
        "event_weekday_chisq",
        # r5 lazy in-plan ranking fences: the quantile-fence 1-row
        # aggregate broadcasts back via a BNLJ cross join (ADVICE r4 —
        # replaces the eager driver-side approxQuantile job)
        "customer_spend_gini",
        "parts_abc_pareto",
        # r5: 1-row broadcasts — the z-order fence aggregate and the
        # Misra-Gries (n, D) totals
        "zorder_layout_roundtrip",
        "token_heavy_hitters_mg",
        # r5e: BM25's 1-row corpus-stats broadcast (n_docs, total_toks)
        "bm25_topk_docs",
        # r5f: the bigram LM's 1-row vocabulary-size broadcast
        "bigram_lm_quality",
        # r5f: the correlation matrix's 1-row n broadcast (twice)
        "embedding_corr_matrix",
        # r5f: the composite gate inherits the LM's vocab broadcast
        "full_quality_gate",
        # r5f: c-TF-IDF's 1-row mean-tokens-per-cluster broadcast
        "cluster_top_terms_ctfidf",
        # r6 breadth tier (allowlisted r7 — VERDICT r6 #1): the JL
        # projection's 16-row dims-table broadcast (one row per output
        # dimension, bounded by the projection width, never by data)
        "embedding_random_projection",
        # r6 breadth tier: the skew profiler's 1-row corpus-totals
        # broadcast (total rows + distinct keys for the skew ratio)
        "join_key_skew_profile",
        # r8: the JL capture gate's exact baseline is the documented
        # quadratic brute-force anchor, and its hits/total capture
        # ratio is a 1-row x 1-row aggregate cross join
        "jl_manifold_capture",
        # r9: the standing-ANN serve row's recall gate — exact
        # baseline restricted to the query batch (documented anchor)
        # plus the 1-row hits x stats aggregate cross join
        "ann_standing_serve",
        # r10: the dispatch facade's recall gate — same documented
        # brute-force anchor + 1-row hits x totals cross join
        "ann_auto_dispatch",
        # r11: the truth-build receipt joins the two 1-row pair-count
        # aggregates (64-dim x 16-dim artifacts) — the same bounded
        # 1-row x 1-row cross-join shape as the recall gates above
        "ann_exact_truth_build",
    }
    offenders_cart, offenders_bnlj = [], []
    for name in sorted(catalog):
        plan = _plan(catalog[name])
        if "CartesianProduct" in plan:
            offenders_cart.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_allowed:
            offenders_bnlj.append(name)
    assert not offenders_cart, f"cartesian products in: {offenders_cart}"
    assert not offenders_bnlj, f"undocumented nested-loop joins in: {offenders_bnlj}"


def test_lsh_kernel_regime_plan_shape(spark, sf_dir):
    """r5b: the broadcast kernel must NOT materialize a candidate
    multiset through a distinct — no aggregate-style dedup exchange
    before scoring. The only hash exchange left is the ranking
    window's on query_id (the scan emits scored candidates and joins
    nothing wide)."""
    from udacity_capstone_data_engineering_spark.operators import (
        similarity as sim,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    df = sim.lsh_topk(emb, "vec_id", "embedding", dim=64, k=5)
    df.collect()
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    # candidate dedup shows up as a HashAggregate pair over
    # (query_id, neighbor_id); the kernel needs none
    assert "HashAggregate" not in final, final
    n_shuffles = final.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, (
        f"expected <=1 shuffle in kernel-regime final plan, saw "
        f"{n_shuffles}:\n{final}"
    )
