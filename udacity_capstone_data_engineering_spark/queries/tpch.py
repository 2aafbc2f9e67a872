"""The TPC-H decision-support suite, Q1-Q22, adapted to the driver's
star schema (no ``partsupp`` table and no shipmode/commitdate columns,
so the four partsupp queries re-express their shape over ``lineitem``
and the lateness queries derive latency from
``l_shipdate - o_orderdate``).

These are the canonical catalog of distributed-plan shapes: semi/anti
joins with cross-table predicates (Q4, Q22), two-sided dimension chains
(Q7, Q8), scalar-subquery thresholds (Q11, Q15, Q17), left-join count
distributions (Q13), disjunctive pushdown (Q19), and multi-level
aggregation towers (Q21). Each docstring states the join/shuffle
strategy that must hold at 100 TB.

Money math runs in exact DECIMAL(18,2) lattices summed
order-independently then cast to double; every LIMIT carries a unique
tiebreaker; time is integer day/micro arithmetic. Oracles use the same
column names (the driver hashes columns sorted by name).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.queries import (
    _dec_avg,
    _dec_avg_sql,
    _dec_sum,
    _dec_sum_sql,
    _register,
)
from udacity_capstone_data_engineering_spark.sources.catalog import load_table


@_register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dec_sum_sql('l_quantity', 'sum_qty')},
           {_dec_sum_sql('l_extendedprice', 'sum_base_price')},
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS sum_disc_price,
           {_dec_avg_sql('l_quantity', 'avg_qty')},
           {_dec_avg_sql('l_extendedprice', 'avg_price')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped pricing summary: filter + wide group-agg
    (SURVEY.md §2.4; adds the filter the reference never had — its
    pipeline contains zero ``filter`` calls, §4). Filter is pushed to
    the parquet scan; aggregation is map-side partial then one shuffle
    on the 6-value group key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            _dec_avg("l_quantity", "avg_qty"),
            _dec_avg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Relational: TPC-H Q3 / Q5 shapes (multi-join showcase)
# ---------------------------------------------------------------------------

_Q3_REVENUE_SQL = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))"
    " AS DOUBLE)"
)


def _disc_revenue():
    """Exact decimal discounted revenue (order-independent sum)."""
    return F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    ).cast("double")


@_register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {_Q3_REVENUE_SQL} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    orders ⋈ lineitem, discounted-revenue group-agg, top 10. The date
    and segment filters push into all three parquet scans. Join
    strategy at 100 TB: customer and orders both SCALE with the data,
    so neither is hint-broadcast — orders⋈customer shuffles on custkey,
    then meets lineitem in a shuffle on the orderkey; the group-agg
    keys lead with l_orderkey, the same key the join just partitioned
    by, so no third exchange. At test SF, AQE converts both joins to
    broadcast on its own — that decision belongs to the runtime, not a
    hint that would OOM at scale. Final top-10 is
    TakeOrderedAndProject, never a global sort; tiebreak l_orderkey
    keeps the LIMIT deterministic."""
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    joined = li.join(
        orders.join(cust, orders.o_custkey == cust.c_custkey),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_disc_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@_register(
    "tpch_q5_local_supplier_volume",
    f"""
    SELECT n_name, {_Q3_REVENUE_SQL} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): six-table join where the
    customer and the supplier must share a nation inside one region,
    revenue per nation for one order year. Join strategy for 100 TB:
    region (5 rows) and nation (25 rows) are FIXED-size — broadcast
    them explicitly into supplier, which stays distributed (supplier
    and customer both scale with the data, so no hint there). The two
    fact tables (orders filtered to one year, lineitem) meet in a
    shuffle on the orderkey; customer and the region-filtered supplier
    attach via key joins that AQE turns into broadcasts at small SF and
    leaves as shuffles at scale. The c_nationkey = s_nationkey equality
    rides on the supplier join condition, so mismatched-nation rows die
    in the join, not in a post-filter."""
    year_lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    year_hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= year_lo) & (F.col("o_orderdate") < year_hi))
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # Dimension chain: region -> nation -> supplier (all broadcast).
    local_supp = supp.join(
        F.broadcast(
            nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        ),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    fact = orders.join(li, orders.o_orderkey == li.l_orderkey).join(
        cust, orders.o_custkey == cust.c_custkey
    )
    joined = fact.join(
        local_supp,
        (fact.l_suppkey == local_supp.s_suppkey)
        & (fact.c_nationkey == local_supp.s_nationkey),
    )
    return joined.groupBy("n_name").agg(_disc_revenue().alias("revenue"))


def _ts(lit: str):
    return F.lit(lit).cast("timestamp")


# ---------------------------------------------------------------------------
# Q4: order-priority checking (EXISTS semi-join with cross-table predicate)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): one quarter of orders,
    kept only if some line item shipped more than 30 days after the
    order date (the reference schema's commitdate is absent, so
    lateness is ship-vs-order). The EXISTS is a LEFT SEMI join whose
    condition spans both tables — Spark keeps it an equi-join on the
    orderkey with the date comparison as a join residual, so at scale
    it is one shuffle of the date-filtered orders against lineitem,
    never a correlated per-row probe. The quarter filter pushes into
    the orders scan."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("o_orderdate") < _ts("1997-04-01 00:00:00"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    kept = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations (two-sided dimension chain)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
           {_Q3_REVENUE_SQL} AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    specific nations, by shipping year, where the supplier is in one
    nation and the customer in the other. The nation dimension is
    FIXED-size, so it broadcasts into BOTH supplier and customer before
    the fact joins — the disjunctive two-nation predicate then prunes
    each side to ~1/25 of rows ahead of any shuffle (filter-below-join
    placement matters more than join order here). The two fact tables
    meet on the orderkey; supplier and customer attach by key, which
    AQE broadcasts at small SF and shuffles at scale."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    pair = ("NATION_1", "NATION_2")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .filter(F.col("supp_nation").isin(*pair))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("cust_nation").isin(*pair))
        .select("c_custkey", "cust_nation")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate").between(
                _ts("1996-01-01 00:00:00"), _ts("1997-12-31 00:00:00")
            )
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(_disc_revenue().alias("revenue"))


# ---------------------------------------------------------------------------
# Q8: national market share (conditional share of a grouped total)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                               THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END)
                      AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
               CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                   AS volume,
               n1.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_type = 'PROMO')
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): of all PROMO-type part
    revenue sold to customers in EUROPE, the fraction supplied by one
    nation, per order year. Share-of-total inside one aggregation: the
    numerator is a conditional decimal sum over the same rows as the
    denominator — one pass, no self-join against a totals subquery.
    region→nation→customer prunes the customer side via broadcast
    dimension chain; the part-type filter pushes into the part scan and
    prunes lineitem through the join. Fact⋈fact on orderkey; division
    happens once per year-group at the very top (decimal-exact until
    the final double divide, rounded 6)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n2 = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    eu_cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n2.join(F.broadcast(region),
                        n2.n_regionkey == region.r_regionkey)
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .select("s_suppkey", "supp_nation")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    volume = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(eu_cust, orders.o_custkey == eu_cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return joined.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# Q9: product-type profit (profit = revenue - cost, by nation and year)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q9_product_profit",
    """
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(3,2)))
                    - CAST(p_retailprice * l_quantity AS DECIMAL(18,2))
                        * CAST(0.1 AS DECIMAL(2,1)))
                AS DOUBLE) AS sum_profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red%'
    GROUP BY 1, 2
    """,
)
def tpch_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): for parts named 'red …',
    profit per supplier nation per order year. The schema has no
    partsupp.ps_supplycost, so cost is modeled as 10% of retail value
    (retailprice × quantity) — same plan shape, different constant.
    Profit stays in the exact decimal lattice per row (revenue minus
    cost BEFORE the sum, as Q9 specifies) so the aggregate is
    order-independent. The p_name LIKE 'red%' is a prefix pattern —
    pushed to the part scan as a StartsWith filter. nation broadcasts
    into supplier; part (pre-filtered to ~1/8 of rows) and orders meet
    lineitem on their own keys."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey", "p_retailprice")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    cost = (
        (F.col("p_retailprice") * F.col("l_quantity")).cast("decimal(18,2)")
        * F.lit(0.1).cast("decimal(2,1)")
    )
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return joined.groupBy(
        "nation", F.year("o_orderdate").alias("o_year")
    ).agg(F.sum(revenue - cost).cast("double").alias("sum_profit"))


# ---------------------------------------------------------------------------
# Q10: returned-item reporting (top-k customers by lost revenue)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q10_returned_items",
    f"""
    SELECT c_custkey, c_name, {_Q3_REVENUE_SQL} AS revenue, c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned items): the 20 customers who returned
    the most revenue in one quarter. Both filters (quarter on orders,
    returnflag on lineitem) push into their scans BEFORE the fact join
    — the join input is ~1/20 of each table. nation broadcasts into
    customer. The group-agg keys on c_custkey (functional determinant
    of the other three group columns, kept in the key to avoid a
    second agg); final top-20 is TakeOrderedAndProject with c_custkey
    tiebreak."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("o_orderdate") < _ts("1997-04-01 00:00:00"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_disc_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# ---------------------------------------------------------------------------
# Q11: important stock (HAVING against a scalar-subquery threshold)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q11_important_parts",
    """
    WITH v AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(3,2))
                           - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
                   AS part_value
        FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, part_value
    FROM v
    WHERE part_value > (SELECT SUM(part_value) FROM v) * 0.0005
    """,
)
def tpch_q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (important stock): parts whose traded value
    exceeds a fraction of the GLOBAL total — a HAVING clause against a
    scalar subquery. No partsupp table, so value is discounted lineitem
    revenue per part. Plan: ONE shuffle builds the per-part aggregate,
    which is persisted — it feeds BOTH the filter branch and the
    grand-total branch, and without the persist Spark re-scans and
    re-shuffles lineitem for each (verified in the physical plan; the
    static ReuseExchange rule does not fire because the branches differ
    above the exchange). The persisted set is |parts| rows — tiny next
    to a second lineitem pass at scale. Threshold compare happens in
    double on both engines, derived from the same exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    per_part = li.groupBy("l_partkey").agg(
        _disc_revenue().alias("part_value")
    ).persist()
    total = per_part.agg(
        F.sum("part_value").alias("grand_total")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("grand_total") * F.lit(0.0005))
        .select("l_partkey", "part_value")
    )


# ---------------------------------------------------------------------------
# Q12: shipping-latency classes (no shipmode column -> latency buckets)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q12_latency_classes",
    """
    SELECT CASE WHEN lat <= 30 THEN 'FAST'
                WHEN lat <= 90 THEN 'MEDIUM'
                ELSE 'SLOW' END AS latency_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
        SELECT o_orderpriority,
               date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) AS lat
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate
          AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY 1
    """,
)
def tpch_q12_latency_classes(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes and priority): the schema has no
    l_shipmode, so lines are classed by shipping LATENCY (days between
    order and ship date: ≤30 FAST, ≤90 MEDIUM, else SLOW) and each
    class counts high- vs low-priority lines. Integer calendar-day
    difference on both engines — no float time math. One fact⋈fact
    join on the orderkey (year filter pushed into the lineitem scan),
    then a 3-group conditional-count aggregate, partial map-side."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1998-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1999-01-01 00:00:00"))
        )
        .select("l_orderkey", "l_shipdate")
    )
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey).filter(
        F.col("l_shipdate") >= F.col("o_orderdate")
    )
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    latency_class = (
        F.when(lat <= 30, "FAST").when(lat <= 90, "MEDIUM").otherwise("SLOW")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy(latency_class.alias("latency_class")).agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# Q13: customer order-count distribution (left join preserving zeros)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer distribution): how many customers
    placed 0, 1, 2, … qualifying orders. The LEFT join keeps customers
    with no orders (COUNT of a null column is 0 — exactly the rows an
    inner join would silently drop), and the order-side predicate
    lives IN the join condition, not a WHERE, which would turn the
    outer join inner. Two-level aggregation: the first keys on
    c_custkey (same key the join just shuffled by — no extra
    exchange), the second is a tiny histogram over distinct counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "5-LOW"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14: promotion effect (conditional share, single join)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q14_promo_revenue",
    """
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
                     CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(3,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE),
                 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): the percentage of one
    month's revenue that came from PROMO-type parts. Numerator and
    denominator are conditional/unconditional decimal sums over the
    SAME joined rows — one aggregate, one division at the end. The
    month filter prunes lineitem at the scan; part carries only
    (partkey, type) through the join thanks to column pruning."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1997-09-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-10-01 00:00:00"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(zero))
                .cast("double")
            / F.sum(revenue).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


# ---------------------------------------------------------------------------
# Q15: top supplier (scalar-subquery equality on an aggregate)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {_Q3_REVENUE_SQL} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): supplier(s) with the maximum
    revenue in one quarter — equality against a scalar MAX subquery,
    which correctly returns ALL tied suppliers (a LIMIT 1 would not).
    The revenue CTE aggregates once and is persisted: both the MAX
    branch and the equality filter read it, and without the persist
    each branch re-scans the quarter of lineitem. Equality compares
    the same exact decimal-sum-derived doubles, so tie detection is
    deterministic. supplier attaches by key to the tiny filtered
    result."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-04-01 00:00:00"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _disc_revenue().alias("total_revenue")
    ).persist()
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16: supplier-count by part attributes (distinct agg over a join)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q16_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): how many distinct
    suppliers ship parts of each (brand, type, size) combination,
    excluding one brand and one type. No partsupp, so the relationship
    comes from observed lineitems. All three part predicates (two
    negations, one IN-list) push into the part scan. COUNT(DISTINCT)
    plans as Expand + two-phase partial aggregation — dedup happens
    map-side per group before the shuffle, so the exchange carries
    (group, suppkey) pairs, not raw lineitems."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated average, decorrelated)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.5 * (SUM(l_quantity) / COUNT(l_quantity))
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): revenue lost to
    orders below half a part's average quantity, scaled to per-year.
    The correlated AVG subquery decorrelates into a per-part aggregate
    joined back on partkey — but with one push further than the
    textbook plan: the brand filter applies to LINEITEM first (via the
    broadcast part join), and the per-part average is computed over
    that ~1/25 subset. Correct because a part's average quantity only
    involves that part's own rows, which the part-side filter keeps
    intact — so lineitem is scanned once at full width instead of
    twice. The average is written as exact SUM/COUNT on BOTH engines
    (quantities are integer-valued doubles, so the sum is exact and
    the comparison threshold is bit-identical — a streaming AVG
    implementation could round differently)."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_brand = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    ).persist()
    per_part_avg = li_brand.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty")
    )
    # No broadcast hint on per_part_avg: it scales with |parts| (AQE
    # broadcasts it at test SF on its own; at 100 TB it must shuffle).
    joined = (
        li_brand.join(per_part_avg, li_brand.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
    )
    return joined.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.lit(7.0),
            6,
        ).alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# Q18: large-volume customers (IN over a grouped HAVING subquery)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q18_large_volume_customers",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(big.sum_qty AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 150) big
      ON o_orderkey = big.l_orderkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): the 100 biggest orders
    whose total quantity exceeds a threshold, with their customers.
    The classic IN-(GROUP BY … HAVING) subquery becomes a plain join
    against the per-order quantity aggregate (identical semantics —
    l_orderkey is the aggregate's key so the join cannot duplicate).
    Quantity sums are exact (integer-valued doubles). The per-order
    agg shuffles lineitem once on the orderkey, the SAME key the
    orders join needs — AQE chains them without a second exchange.
    Top-100 by (totalprice, orderkey) is TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    joined = (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Q19: discounted revenue (disjunctive multi-column predicates)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q19_disjunctive_revenue",
    f"""
    SELECT {_Q3_REVENUE_SQL} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    three OR'd (brand, size-range, quantity-range) arms spanning both
    join sides. Catalyst splits the disjunction: the part-only
    implication (brand ∈ {12,23,34}, size ≤ 15) and the lineitem-only
    implication (quantity ≤ 30) are derivable prefilters that push to
    each scan, while the full cross-table disjunction evaluates as the
    join residual — without that split, the OR would force a raw
    join of unfiltered tables. Single scalar aggregate output."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    arm = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    joined = li.join(part, li.l_partkey == part.p_partkey).filter(arm)
    return joined.agg(
        _disc_revenue().alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q20: excess shippers (nested semi-join chain)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q20_excess_shippers",
    """
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_name LIKE 'red%'
            AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY l_suppkey
          HAVING SUM(l_quantity) > 300)
    """,
)
def tpch_q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): suppliers in one
    nation who shipped more than a threshold quantity of 'red …' parts
    in one year. The partsupp availability check becomes a shipped-
    quantity HAVING. Chain: part (prefix-filtered, broadcastable) semi-
    prunes lineitem; the per-supplier aggregate needs one shuffle of
    (suppkey, qty) partial sums; the IN becomes a LEFT SEMI join of
    the 100-row supplier dimension against that aggregate — the
    cheapest side probes. nation broadcasts into supplier."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_1"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("red_qty"))
        .filter(F.col("red_qty") > 300)
    )
    return supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")


# ---------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting (multi-level aggregation tower)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q21_waiting_suppliers",
    """
    WITH ss AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last_ship
        FROM lineitem GROUP BY l_orderkey, l_suppkey),
    po AS (
        SELECT l_orderkey, COUNT(*) AS n_suppliers,
               MAX(supp_last_ship) AS order_last_ship
        FROM ss GROUP BY l_orderkey)
    SELECT s_name, COUNT(*) AS numwait
    FROM ss
    JOIN po USING (l_orderkey)
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_suppliers >= 2 AND supp_last_ship = order_last_ship
      AND o_orderstatus = 'F' AND n_name = 'NATION_2'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): on finished
    multi-supplier orders, the supplier whose shipment came LAST held
    the order up. The classic EXISTS (another supplier) / NOT EXISTS
    (another supplier shipped later) pair decorrelates into an
    aggregation tower: per-(order, supplier) last shipment, per-order
    supplier count + global last shipment, then keep pairs achieving
    the order's max (ties count both, matching NOT-EXISTS-strictly-
    later semantics). Two aggregations ride the SAME orderkey
    partitioning as the orders join — one lineitem shuffle total, vs
    TWO correlated self-joins of lineitem in the literal formulation.
    nation broadcasts into supplier; timestamps compare as exact
    micros. Top-20 with s_name tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    ss = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_last_ship")
    )
    po = ss.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.max("supp_last_ship").alias("order_last_ship"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_2"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    waiters = (
        ss.join(po, "l_orderkey")
        .filter(
            (F.col("n_suppliers") >= 2)
            & (F.col("supp_last_ship") == F.col("order_last_ship"))
        )
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
    )
    return (
        waiters.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q22: lapsed high-balance customers (anti-join + global scalar threshold)
# ---------------------------------------------------------------------------


@_register(
    "tpch_q22_lapsed_customers",
    """
    WITH pool AS (
        SELECT c_custkey, c_acctbal,
               CAST(c_custkey % 10 AS INTEGER) AS cust_group
        FROM customer
        WHERE CAST(c_custkey % 10 AS INTEGER) IN (1, 3, 5, 7, 9)),
    threshold AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
        FROM pool WHERE c_acctbal > 0.0)
    SELECT cust_group, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM pool
    WHERE c_acctbal > (SELECT avg_bal FROM threshold)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY cust_group
    """,
)
def tpch_q22_lapsed_customers(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): customers in a
    subset of groups (phone country codes in the classic — custkey
    residue classes here, since the schema has no phone column) whose
    balance beats the positive-balance average but who placed no order
    since 2000 ("lapsed" replaces "never ordered" — this synthetic
    data has no orderless customers). Three plan pieces: a scalar
    decimal-exact average broadcast back as a threshold; a LEFT ANTI
    join against date-filtered orders (the NOT EXISTS — the filter
    pushes into the orders scan, shrinking the anti-join build side
    ~4x); and a residue-class group aggregate. At scale the anti join
    shuffles on custkey once; everything else is map-side."""
    pool = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey", "c_acctbal",
            (F.col("c_custkey") % 10).cast("int").alias("cust_group"),
        )
        .filter(F.col("cust_group").isin(1, 3, 5, 7, 9))
    )
    threshold = pool.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts("2000-01-01 00:00:00"))
        .select("o_custkey")
    )
    lapsed = (
        pool.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent_orders, pool.c_custkey == recent_orders.o_custkey,
              "left_anti")
    )
    return lapsed.groupBy("cust_group").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("totacctbal"),
    )


# ---------------------------------------------------------------------------
# Q2: minimum-cost supplier (correlated MIN subquery over a derived
# supply relation) and Q6: forecasting revenue change (pure scan-agg).
# These close out the classic 22: Q1 is `pricing_summary`, Q3/Q5 live
# in phase 4, Q4/Q7-Q22 above.
# ---------------------------------------------------------------------------

_Q2_SUPPLY_SQL = """
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
"""


@_register(
    "tpch_q2_min_cost_supplier",
    f"""
    WITH supply AS ({_Q2_SUPPLY_SQL}),
    eligible AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
             sp.l_partkey, sp.unit_cost
      FROM supply sp
      JOIN supplier s ON sp.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_name, e.unit_cost, e.s_suppkey
    FROM eligible e
    JOIN part p ON e.l_partkey = p.p_partkey
    WHERE p.p_type = 'PROMO' AND p.p_size BETWEEN 10 AND 30
      AND e.unit_cost = (SELECT MIN(e2.unit_cost) FROM eligible e2
                         WHERE e2.l_partkey = e.l_partkey)
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey,
             e.s_suppkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): for each PROMO part in
    a size band, the EUROPE supplier(s) offering it at the lowest unit
    cost, ranked by account balance. No ``partsupp`` table, so the
    supply relation derives from observed trade: per (partkey,
    suppkey), MIN(l_extendedprice / l_quantity) — one shuffle that
    produces a partsupp-sized (not lineitem-sized) intermediate, built
    from a 4-column pruned scan.

    The correlated MIN subquery decorrelates into a window: after the
    region-filtered supplier/nation/region dimension chain joins in
    (nation and region are fixed-size -> hint-broadcast; supplier
    SCALES with the data, so it gets no hint — AQE broadcasts it at
    test SF, a shuffle join at 100 TB), one hashpartitioning exchange
    on l_partkey feeds MIN() OVER (PARTITION BY l_partkey) and the
    tie-keeping equality filter — identical tie semantics to the
    textbook correlated subquery, one exchange instead of the
    decorrelated join's two. Unit-cost doubles are a division and a
    MIN of the same IEEE inputs on both engines, so the equality and
    the final hash match exactly. The part filter (type + size band)
    pushes into the parquet scan; final top-100 is
    TakeOrderedAndProject with a unique (.., p_partkey, s_suppkey)
    tiebreak, never a global sort.

    Reference parity: completes the 22-query decision-support catalog
    whose Q1-shape the reference's notebook aggregates echo
    (etl.py:300-334 group-agg tier)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_cost"
        )
    )
    nations_eu = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "region").filter(
                    F.col("r_name") == "EUROPE"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp_eu = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nations_eu),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = supply.join(
        supp_eu, supply.l_suppkey == supp_eu.s_suppkey
    ).select(
        "s_acctbal", "s_name", "n_name", "l_partkey", "unit_cost",
        "s_suppkey",
    )
    w_part = Window.partitionBy("l_partkey")
    cheapest = eligible.withColumn(
        "min_cost", F.min("unit_cost").over(w_part)
    ).filter(F.col("unit_cost") == F.col("min_cost"))
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(10, 30)
        )
        .select("p_partkey", "p_name")
    )
    return (
        cheapest.join(part, cheapest.l_partkey == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "unit_cost", "s_suppkey",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey",
            "s_suppkey",
        )
        .limit(100)
    )


@_register(
    "tpch_q6_revenue_forecast",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change): the pure
    scan-filter-aggregate — revenue that would have been kept had
    mid-band discounts on small orders been eliminated. All three
    predicates and the 4-column projection push into the parquet scan
    (PushedFilters on shipdate/discount/quantity), the product is
    summed in an exact DECIMAL lattice map-side-first (one partial +
    one 1-row final exchange, no other shuffle), and the whole thing
    stays in one WholeStageCodegen span. This is the query shape whose
    100 TB cost is pure I/O — the engine's floor — and the bench row
    to compare any scan-layer change against."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )
