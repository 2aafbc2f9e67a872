"""Relational catalog rows over the star schema: the reference-parity
tier (projection, joins, dedup, null profile, QC counts), windows,
sorts, set ops, rollup/cube, the scalar/array/map/JSON/variant
function families, the SQL entry (grouping sets, correlated
subqueries, lateral joins), statistics and quantiles, skew handling,
table profiling and snapshot/upsert maintenance, and the source/sink
round trips (partitioned, bucketed, z-ordered, JSONL, ORC).

Registered into the one catalog registry (``queries/__init__.py``);
the house determinism rules in its docstring apply.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_capstone_data_engineering_spark.functions.dates import (
    date_to_sas_days,
    sas_date_to_date,
)
from udacity_capstone_data_engineering_spark.functions.fixedpoint import (
    exact_round_div,
    exact_round_div_sql,
)
from udacity_capstone_data_engineering_spark.operators.aggregates import (
    cube_agg,
    null_profile,
    rollup_agg,
)
from udacity_capstone_data_engineering_spark.operators.joins import (
    anti_join,
    equi_join,
    fk_orphans,
    semi_join,
)
from udacity_capstone_data_engineering_spark.operators.projections import (
    dedup_by_key,
    drop_columns,
    project,
)
from udacity_capstone_data_engineering_spark.operators.setops import (
    duplicate_witness,
    intersect_distinct,
    union_distinct,
)
from udacity_capstone_data_engineering_spark.operators.windows import (
    global_top_k,
    lag_delta,
    top_k_per_group,
)
from udacity_capstone_data_engineering_spark.queries import (
    _TOKENS_SQL,
    _dec_avg,
    _dec_avg_sql,
    _dec_sum,
    _dec_sum_sql,
    _register,
)
from udacity_capstone_data_engineering_spark.sources.catalog import TABLES, load_table


# ---------------------------------------------------------------------------
# Reference-parity tier (SURVEY.md §2)
# ---------------------------------------------------------------------------


@_register(
    "flagship_nation_order_stats",
    f"""
    SELECT n_name,
           COUNT(*) AS num_orders,
           MAX(o_totalprice) AS max_price,
           {_dec_sum_sql('o_totalprice', 'total_price')},
           {_dec_avg_sql('o_totalprice', 'avg_price')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def flagship_nation_order_stats(spark, sf_dir):
    """Flagship fact⋈dim group-agg — the reference's cell-30 analytical
    query shape (immigration ⋈ country → MAX + COUNT per group;
    SURVEY.md §2.3 J3, §2.4 A5), on the orders/customer/nation star.

    Scale: orders⋈customer shuffles on custkey; nation (25 rows) is
    broadcast so the big side never reshuffles for it.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = equi_join(
        equi_join(orders, customer, orders.o_custkey == customer.c_custkey),
        nation,
        F.col("c_nationkey") == F.col("n_nationkey"),
        broadcast_right=True,
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("num_orders"),
        F.max("o_totalprice").alias("max_price"),
        _dec_sum("o_totalprice", "total_price"),
        _dec_avg("o_totalprice", "avg_price"),
    )


@_register(
    "project_rename",
    """
    SELECT l_orderkey AS order_id,
           l_linenumber AS line_no,
           l_partkey AS part_id,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue
    FROM lineitem
    """,
)
def project_rename(spark, sf_dir):
    """P1 projection+rename with a computed column (reference
    ``etl.py:254``), one select, all JVM-side. The computed revenue
    goes through exact decimal arithmetic — double ROUND() semantics
    differ across engines (HALF_UP vs half-even)."""
    li = load_table(spark, sf_dir, "lineitem")
    return project(
        li,
        {
            "order_id": "l_orderkey",
            "line_no": "l_linenumber",
            "part_id": "l_partkey",
            "revenue": "cast(cast(l_extendedprice as decimal(18,2))"
            " * (1 - cast(l_discount as decimal(3,2))) as double)",
        },
    )


@_register(
    "drop_columns_docs",
    "SELECT doc_id, lang, source, n_chars FROM documents",
)
def drop_columns_docs(spark, sf_dir):
    """P2 drop (reference ``etl.py:163-168``): shed the wide payload
    column; Catalyst turns this into scan-level column pruning."""
    docs = load_table(spark, sf_dir, "documents")
    return drop_columns(docs, ["text"])


@_register(
    "multi_cast",
    """
    SELECT CAST(l_orderkey AS VARCHAR) AS order_key_str,
           l_linenumber AS line_no,
           CAST(l_quantity AS INTEGER) AS qty_int,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    """,
)
def multi_cast(spark, sf_dir):
    """P4 multi-column cast in ONE select (replaces the reference's
    withColumn-loop ``qhi.cast_totype``, ``qhi.py:3-17``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("order_key_str"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_extendedprice").cast("decimal(12,2)").cast("string").alias("price_str"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )


@_register(
    "fill_nulls_events",
    """
    SELECT event_id,
           COALESCE(NULLIF(event_type, 'error'), 'unknown') AS event_type_filled
    FROM events
    """,
)
def fill_nulls_events(spark, sf_dir):
    """P7 null fill (reference ``etl.py:171``, whose comment said 9 but
    filled 0 — here the sentinel is explicit). Nulls are manufactured
    with NULLIF since the test tables are null-free."""
    ev = load_table(spark, sf_dir, "events")
    from udacity_capstone_data_engineering_spark.operators.projections import fill_nulls

    df = ev.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("event_type_filled"),
    )
    return fill_nulls(df, {"event_type_filled": "unknown"})


@_register(
    "null_profile_events",
    """
    SELECT COUNT(*) AS row_count,
           COUNT(*) - COUNT(NULLIF(event_type, 'error')) AS event_type_nulls,
           ROUND((COUNT(*) - COUNT(NULLIF(event_type, 'error'))) / COUNT(*), 6)
               AS event_type_null_ratio,
           COUNT(*) - COUNT(props) AS props_nulls,
           ROUND((COUNT(*) - COUNT(props)) / COUNT(*), 6) AS props_null_ratio
    FROM events
    """,
)
def null_profile_events(spark, sf_dir):
    """A4/Q3 one-pass null profile (the reference's nicest pattern,
    notebook cell 12): all columns profiled in a single aggregate job."""
    ev = load_table(spark, sf_dir, "events").select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("event_type"),
        "props",
    )
    return null_profile(ev, ["event_type", "props"])


@_register(
    "dedup_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def dedup_orders_per_customer(spark, sf_dir):
    """P9 deterministic dropDuplicates: first order per customer under
    an explicit total order (Spark's dropDuplicates keeps an ARBITRARY
    row — unusable where results must be reproducible; SURVEY.md §7
    risk register)."""
    orders = load_table(spark, sf_dir, "orders")
    d = dedup_by_key(
        orders, ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    return d.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@_register(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer",
)
def distinct_segments(spark, sf_dir):
    """P8 distinct (reference ``qhi.py:53,58,63``)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@_register(
    "fk_orphan_lineitems",
    """
    SELECT DISTINCT l_orderkey AS fk FROM lineitem
    WHERE l_orderkey IS NOT NULL
      AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    """,
)
def fk_orphan_lineitems(spark, sf_dir):
    """Q2 corrected referential-integrity check: LEFT ANTI join of
    distinct fact keys vs the dim (reference ``qhi.py:39-91`` passed on
    *any* overlap and returned an inverted flag). Empty ⇒ FK holds."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return fk_orphans(li, "l_orderkey", orders, "o_orderkey")


@_register(
    "anti_join_no_urgent",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def anti_join_no_urgent(spark, sf_dir):
    """Anti join with a non-trivial result: customers with no URGENT
    order (SURVEY.md §2.3 extension — semi/anti were absent from the
    reference)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return anti_join(
        cust, orders, cust.c_custkey == orders.o_custkey
    ).select("c_custkey", "c_name")


@_register(
    "semi_join_customers_with_orders",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def semi_join_customers_with_orders(spark, sf_dir):
    """Left-semi join + group count."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        semi_join(cust, orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "group_first_per_nation",
    f"""
    SELECT n_name,
           MIN(c_name) AS first_customer,
           COUNT(*) AS n_customers,
           {_dec_avg_sql('c_acctbal', 'avg_acctbal')}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def group_first_per_nation(spark, sf_dir):
    """A1/A2 group + representative + mean (reference
    ``etl.py:125-127, 208-210``) with ``first`` replaced by MIN —
    deterministic under any partitioning (SURVEY.md §7 risk register)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = equi_join(
        cust, nation, cust.c_nationkey == nation.n_nationkey, broadcast_right=True
    )
    return j.groupBy("n_name").agg(
        F.min("c_name").alias("first_customer"),
        F.count(F.lit(1)).alias("n_customers"),
        _dec_avg("c_acctbal", "avg_acctbal"),
    )


@_register(
    "case_normalized_join",
    f"""
    WITH cust AS (
        SELECT lower(n_name) AS nation_key,
               {_dec_avg_sql('c_acctbal', 'cust_avg_bal')}
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY lower(n_name)
    ), supp AS (
        SELECT upper(n_name) AS nation_key_u,
               {_dec_avg_sql('s_acctbal', 'supp_avg_bal')}
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY upper(n_name)
    )
    SELECT nation_key, cust_avg_bal, supp_avg_bal
    FROM cust LEFT JOIN supp ON nation_key = lower(nation_key_u)
    """,
)
def case_normalized_join(spark, sf_dir):
    """J1 corrected: the reference's country⟕temperature join lower-
    cased one side and UPPER-cased the other (``etl.py:212,218``), so
    zero rows ever matched (verified in its committed output). Here the
    join key is case-normalized on BOTH sides."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    c = (
        equi_join(cust, nation, cust.c_nationkey == nation.n_nationkey, broadcast_right=True)
        .groupBy(F.lower("n_name").alias("nation_key"))
        .agg(_dec_avg("c_acctbal", "cust_avg_bal"))
    )
    s = (
        equi_join(supp, nation, supp.s_nationkey == nation.n_nationkey, broadcast_right=True)
        .groupBy(F.upper("n_name").alias("nation_key_u"))
        .agg(_dec_avg("s_acctbal", "supp_avg_bal"))
    )
    j = equi_join(
        c, s, F.col("nation_key") == F.lower(F.col("nation_key_u")), how="left",
        broadcast_right=True,
    )
    return j.select("nation_key", "cust_avg_bal", "supp_avg_bal")


@_register(
    "dup_witness_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS extra_copies
    FROM ((SELECT l_returnflag, l_linestatus FROM lineitem)
          EXCEPT ALL
          (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem))
    GROUP BY l_returnflag, l_linestatus
    """,
)
def dup_witness_flag_status(spark, sf_dir):
    """U1 exceptAll duplicate witness (reference notebook cell 17),
    aggregated to per-key extra-copy counts."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        duplicate_witness(li, ["l_returnflag", "l_linestatus"])
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("extra_copies"))
    )


@_register(
    "date_parts_calendar",
    """
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS cal_date,
           year(o_orderdate) AS year,
           month(o_orderdate) AS month,
           dayofmonth(o_orderdate) AS day,
           dayofweek(o_orderdate) + 1 AS dayofweek,
           weekofyear(o_orderdate) AS weekofyear
    FROM orders
    """,
)
def date_parts_calendar(spark, sf_dir):
    """F2 calendar-dim derivation (reference ``etl.py:243-266``) from a
    true DateType column — no string coercion, no Python UDF.
    Spark dayofweek is 1=Sunday; the oracle shifts DuckDB's 0=Sunday."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        F.to_date(d).alias("cal_date"),
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.dayofweek(d).alias("dayofweek"),
        F.weekofyear(d).alias("weekofyear"),
    ).distinct()


@_register(
    "sas_epoch_roundtrip",
    """
    SELECT o_orderkey,
           CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS sas_days,
           DATE '1960-01-01'
               + CAST(datediff('day', DATE '1960-01-01', CAST(o_orderdate AS DATE))
                      AS INTEGER) AS roundtrip_date
    FROM orders
    """,
)
def sas_epoch_roundtrip(spark, sf_dir):
    """U1 replacement: SAS epoch-day conversion as pure JVM expressions
    (the reference used a row-at-a-time Python UDF, ``etl.py:255-257``,
    its only Python boundary — and mapped offset 0 to NULL)."""
    orders = load_table(spark, sf_dir, "orders")
    days = date_to_sas_days(F.to_date("o_orderdate"))
    return orders.select(
        "o_orderkey",
        days.alias("sas_days"),
        sas_date_to_date(days).alias("roundtrip_date"),
    )


@_register(
    "qc_table_counts",
    "\nUNION ALL\n".join(
        f"SELECT '{t}' AS table_name, COUNT(*) AS row_count FROM {t}"
        for t in TABLES
    ),
)
def qc_table_counts(spark, sf_dir):
    """Q1/A3: non-empty materialization probe over the whole catalog in
    one result (reference ``qhi.data_exists`` printed per-table)."""
    out = None
    for t in TABLES:
        df = (
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("row_count"))
            .select(F.lit(t).alias("table_name"), "row_count")
        )
        out = df if out is None else out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# Extension tier: windows, sorts, set ops, rollup/cube (SURVEY.md §7 Phase 2)
# ---------------------------------------------------------------------------


@_register(
    "window_topk_orders",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
    WHERE rnk <= 3
    """,
)
def window_topk_orders(spark, sf_dir):
    """W1 ranking window: top-3 orders per customer. Spark plans this
    as a single shuffle + WindowGroupLimit (rank predicate pushed into
    the sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rnk")


@_register(
    "window_lag_delta",
    """
    SELECT o_custkey, o_orderkey,
           o_totalprice - LAG(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
    FROM orders
    """,
)
def window_lag_delta(spark, sf_dir):
    """W1 lag: per-customer order-value delta vs previous order."""
    orders = load_table(spark, sf_dir, "orders")
    return lag_delta(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate"), F.col("o_orderkey")],
        "o_totalprice",
        alias="delta",
    ).select("o_custkey", "o_orderkey", "delta")


@_register(
    "window_rolling_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber,
                        l_extendedprice
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS rolling_price
    FROM lineitem
    """,
)
def window_rolling_sum(spark, sf_dir):
    """W1 rolling frame: 4-row moving revenue per supplier. The frame
    sum runs over DECIMAL so it is exact and order-stable.

    l_extendedprice is part of the ORDER BY deliberately: the driver
    data contains duplicate (l_orderkey, l_linenumber) triples (175 at
    sf0.1), so the business key alone is NOT a total order and a ROWS
    frame would read engine-/partitioning-dependent contents on ties —
    caught by the sf0.1 gate replay (r3; sf0.01 passed on tie-order
    luck). With the price in the key, any remaining ties carry equal
    prices, so every frame's price multiset — and hence the output —
    is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(-3, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_price"),
    )


@_register(
    "global_top100_lineitems",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def global_top100_lineitems(spark, sf_dir):
    """O2 global top-k: executes as TakeOrderedAndProject (per-partition
    top-k + k-way driver merge), never a full sort — the property that
    makes ORDER BY/LIMIT viable on 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return global_top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        k=100,
    )


@_register(
    "setops_customer_segments",
    """
    SELECT 'union' AS op, COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def setops_customer_segments(spark, sf_dir):
    """Set ops (absent from the reference; §2.5): distinct union and
    intersect cardinalities of two customer cohorts."""
    cust = load_table(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    u = (
        union_distinct(a, b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("union").alias("op"), "n")
    )
    i = (
        intersect_distinct(a, b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect").alias("op"), "n")
    )
    return u.unionByName(i)


@_register(
    "rollup_priority_status",
    f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           {_dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def rollup_priority_status(spark, sf_dir):
    """ROLLUP hierarchy totals (priority → status → grand total)."""
    orders = load_table(spark, sf_dir, "orders")
    return rollup_agg(
        orders,
        ["o_orderpriority", "o_orderstatus"],
        {
            "n_orders": "count(1)",
            "total_price": "cast(sum(cast(o_totalprice as decimal(18,2))) as double)",
        },
    )


@_register(
    "cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_flag_status(spark, sf_dir):
    """CUBE over all grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return cube_agg(li, ["l_returnflag", "l_linestatus"], {"n": "count(1)"})


@_register(
    "string_functions",
    """
    SELECT p_partkey,
           concat(p_brand, ':', p_type) AS brand_type,
           upper(substring(p_name, 1, 8)) AS name_prefix,
           length(p_name) AS name_len,
           replace(p_type, ' ', '_') AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           strpos(p_type, 'BRUSHED') AS brushed_at,
           reverse(p_brand) AS brand_rev,
           trim(concat('  ', p_brand, '  ')) AS brand_trimmed
    FROM part
    """,
)
def string_functions(spark, sf_dir):
    """Scalar string-function coverage (F-tier: the reference only used
    upper/lower, ``etl.py:212,218``)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.instr("p_type", "BRUSHED").alias("brushed_at"),
        F.reverse("p_brand").alias("brand_rev"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias(
            "brand_trimmed"
        ),
    )


@_register(
    "math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil7,
           CAST(floor(sqrt(l_extendedprice)) AS BIGINT) AS price_sqrt_floor,
           ROUND(ln(l_extendedprice + 1), 6) AS price_ln,
           CAST(pow(l_quantity, 2) AS DOUBLE) AS qty_sq,
           CAST(l_quantity AS BIGINT) % 5 AS qty_mod5,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate
    FROM lineitem
    """,
)
def math_functions(spark, sf_dir):
    """Scalar math coverage; ln rounded (libm ulp divergence across
    engines is real)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_ceil7"),
        F.floor(F.sqrt("l_extendedprice")).alias("price_sqrt_floor"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.pow("l_quantity", 2).alias("qty_sq"),
        (F.col("l_quantity").cast("bigint") % 5).alias("qty_mod5"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@_register(
    "json_extract_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props ->> '$.k' AS INTEGER)) AS BIGINT) AS k_total,
           MIN(CAST(props ->> '$.k' AS INTEGER)) AS k_min,
           MAX(CAST(props ->> '$.k' AS INTEGER)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def json_extract_props(spark, sf_dir):
    """Semi-structured column handling: JSON property extraction with
    builtin ``get_json_object`` (JVM-side), aggregated per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("k_total"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


@_register(
    "grouping_sets_sql",
    f"""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           {_dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_sql(spark, sf_dir):
    """GROUPING SETS through the engine's SQL entry point (spark.sql) —
    the reference never used spark.sql; the engine treats SQL text as a
    first-class query surface (its cell-30 flagship was SQL text)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@_register(
    "deterministic_stats",
    """
    SELECT l_returnflag,
           n,
           ROUND(sqrt((sum_x2 - sum_x * sum_x / n_d) / (n_d - 1)), 6) AS price_stddev,
           ROUND((sum_xy - sum_x * sum_y / n_d)
                 / sqrt((sum_x2 - sum_x * sum_x / n_d)
                        * (sum_y2 - sum_y * sum_y / n_d)), 6) AS price_qty_corr
    FROM (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE) AS n_d,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_y,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_x2,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_y2,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_xy
        FROM lineitem GROUP BY l_returnflag)
    """,
)
def deterministic_stats(spark, sf_dir):
    """stddev + correlation from exact decimal moments. The engines'
    built-in stddev/corr are streaming one-pass algorithms whose result
    depends on accumulation order — unusable for bit-stable results
    across partitionings; exact moments are order-free."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    y = F.col("l_quantity").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.lit(1)).cast("double").alias("n_d"),
        F.sum(x).cast("double").alias("sum_x"),
        F.sum(y).cast("double").alias("sum_y"),
        F.sum(x * x).cast("double").alias("sum_x2"),
        F.sum(y * y).cast("double").alias("sum_y2"),
        F.sum(x * y).cast("double").alias("sum_xy"),
    )
    nd, sx, sy, sx2, sy2, sxy = (
        F.col("n_d"), F.col("sum_x"), F.col("sum_y"),
        F.col("sum_x2"), F.col("sum_y2"), F.col("sum_xy"),
    )
    nm1 = F.nullif(nd - 1, F.lit(0.0))  # 1-row group → NULL, not ANSI /0 raise
    var_x = (sx2 - sx * sx / nd) / nm1
    denom = F.nullif(F.sqrt((sx2 - sx * sx / nd) * (sy2 - sy * sy / nd)), F.lit(0.0))
    return m.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt(var_x), 6).alias("price_stddev"),
        F.round((sxy - sx * sy / nd) / denom, 6).alias("price_qty_corr"),
    )


@_register(
    "median_price_per_segment",
    """
    SELECT c_mktsegment,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def median_price_per_segment(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``: both use the (n-1)p linear-interpolation
    definition). At 100 TB swap to approx_percentile and drop the
    oracle to tolerance checks."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
    )


@_register(
    "salted_skew_agg",
    f"""
    SELECT l_returnflag,
           {_dec_sum_sql('l_quantity', 'total_qty')},
           COUNT(*) AS n,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def salted_skew_agg(spark, sf_dir):
    """Two-phase salted aggregation for skewed group keys (l_returnflag
    has only 3 values — exactly the shape that concentrates reducers at
    100 TB). Results are provably identical to the plain groupBy, which
    is what the oracle checks; only the shuffle placement changes."""
    from udacity_capstone_data_engineering_spark.operators.skew import salted_group_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_group_agg(
        li,
        ["l_returnflag"],
        {
            "total_qty_dec": ("sum", "cast(l_quantity as decimal(18,2))"),
            "n": ("count", "1"),
            "max_price": ("max", "l_extendedprice"),
        },
        salt=16,
    )
    return out.select(
        "l_returnflag",
        F.col("total_qty_dec").cast("double").alias("total_qty"),
        "n",
        "max_price",
    )


@_register(
    "window_rank_family",
    """
    SELECT o_custkey, o_orderkey,
           CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_rank_family(spark, sf_dir):
    """The full ranking-window family: dense_rank, percent_rank, ntile,
    first_value/last_value with explicit frames (last_value needs the
    unbounded-following frame — default frames stop at current row)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
    )


@_register(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                AS INTEGER) AS days_to_2002
    FROM orders
    """,
)
def date_functions(spark, sf_dir):
    """Date-function coverage beyond the reference's parts extraction:
    truncation, quarter, month arithmetic (clamping semantics match
    across engines), last_day, datediff."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.trunc(d, "month").alias("order_month"),
        F.quarter(d).alias("q"),
        F.add_months(d, 3).alias("plus3m"),
        F.last_day(d).alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
    )


@_register(
    "null_semantics",
    """
    SELECT event_id,
           COALESCE(NULLIF(event_type, 'error'), 'fallback') AS coalesced,
           NULLIF(event_type, 'error') IS DISTINCT FROM 'view' AS not_view,
           CASE WHEN NULLIF(event_type, 'error') IS NULL
                THEN 'was_error' ELSE 'ok' END AS null_branch
    FROM events
    """,
)
def null_semantics(spark, sf_dir):
    """NULL-handling semantics: coalesce/nullif/IS DISTINCT FROM — the
    three-valued-logic corners that silently corrupt cleaning pipelines
    when mishandled (the reference's QC inverted a boolean, §2.9)."""
    ev = load_table(spark, sf_dir, "events")
    nulled = F.nullif(F.col("event_type"), F.lit("error"))
    return ev.select(
        "event_id",
        F.coalesce(nulled, F.lit("fallback")).alias("coalesced"),
        (~nulled.eqNullSafe(F.lit("view"))).alias("not_view"),
        F.when(nulled.isNull(), "was_error").otherwise("ok").alias("null_branch"),
    )


@_register(
    "pivot_status_counts",
    """
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def pivot_status_counts(spark, sf_dir):
    """Pivot: order counts per priority × status, statuses as columns.
    Explicit value list — at scale an unlisted pivot triggers an extra
    distinct pass over the key."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@_register(
    "unpivot_part_measures",
    """
    SELECT p_partkey, measure, value FROM (
        SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS measure, p_retailprice AS value
        FROM part)
    """,
)
def unpivot_part_measures(spark, sf_dir):
    """Unpivot (melt): wide measure columns → long (key, measure, value)
    rows — the normalization step feeding generic metric pipelines."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "measure", "value")


@_register(
    "regexp_operations",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k_re,
           props LIKE '{"k"%' AS starts_like,
           regexp_matches(props, '[0-9]{2,}') AS has_2digits
    FROM events
    """,
)
def regexp_operations(spark, sf_dir):
    """Regex coverage: capture-group extraction, LIKE, rlike."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_re"),
        F.col("props").like('{"k"%').alias("starts_like"),
        F.col("props").rlike("[0-9]{2,}").alias("has_2digits"),
    )


@_register(
    "nations_per_region_csv",
    """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def nations_per_region_csv(spark, sf_dir):
    """collect_list → sort → join aggregation (string_agg semantics).
    Sorting before joining makes the collected order deterministic —
    collect_list order is partitioning-dependent otherwise."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = equi_join(nation, region, nation.n_regionkey == region.r_regionkey,
                  broadcast_right=True)
    return j.groupBy("r_name").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n_nations"),
    )


@_register(
    "revenue_histogram",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS bucket_min,
           MAX(o_totalprice) AS bucket_max
    FROM orders
    GROUP BY 1
    """,
)
def revenue_histogram(spark, sf_dir):
    """Histogram binning: fixed-width buckets as a computed group key —
    the one-pass distributed histogram shape (group on floor(x/w))."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("bucket_min"),
        F.max("o_totalprice").alias("bucket_max"),
    )


@_register(
    "monthly_revenue_rollup",
    f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_orders,
           {_dec_sum_sql('o_totalprice', 'revenue')},
           COUNT(DISTINCT o_custkey) AS active_customers
    FROM orders
    GROUP BY 1
    """,
)
def monthly_revenue_rollup(spark, sf_dir):
    """Time-series rollup (continuous-aggregate shape): monthly order
    counts, exact revenue, distinct actives. At 100 TB this is the
    materialized summary the fact table's month partitioning feeds
    (write_parquet partition_by + Pipeline materialize boundaries)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.countDistinct("o_custkey").alias("active_customers"),
    )


@_register(
    "upsert_orders_latest",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS total, 1 AS src
      FROM orders
    ), upd AS (
      SELECT o_orderkey, 'X' AS o_orderstatus,
             CAST(o_totalprice AS DOUBLE) AS total, 2 AS src
      FROM orders WHERE o_orderkey % 100 = 0
    ), merged AS (
      SELECT * FROM base UNION ALL SELECT * FROM upd
    )
    SELECT o_orderkey, o_orderstatus, total, src FROM merged
    QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) = 1
    """,
)
def upsert_orders_latest(spark, sf_dir):
    """Latest-wins upsert (MERGE INTO analogue): a simulated update
    batch (every 100th order flipped to status X) folded into the base
    with one key-shuffle; source rank is the precedence column."""
    from udacity_capstone_data_engineering_spark.operators.merge import (
        upsert_latest_wins,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("total"),
        F.lit(1).alias("src"),
    )
    upd = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            F.col("o_totalprice").cast("double").alias("total"),
            F.lit(2).alias("src"),
        )
    )
    return upsert_latest_wins(base, upd, ["o_orderkey"], ["src"])


@_register(
    "array_functions",
    f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique,
           list_contains(toks, 'the') AS has_the,
           toks[1:3] AS first3,
           list_aggregate(toks, 'max') AS max_token
    FROM t
    """,
)
def array_functions(spark, sf_dir):
    """Array/list scalar coverage: size, distinct, contains, slice, max
    — all JVM builtins over one bound token column (the HOF no-CSE rule:
    project the split ONCE, then reuse it)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks")
    )
    return t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_unique"),
        F.array_contains("toks", "the").alias("has_the"),
        F.slice("toks", 1, 3).alias("first3"),
        F.array_max("toks").alias("max_token"),
    )


@_register(
    "nations_per_region_array",
    """
    SELECT r.r_name, list_sort(array_agg(n.n_name)) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def nations_per_region_array(spark, sf_dir):
    """collect_list into a sorted array column (typed sibling of the
    string_agg query): collect order is nondeterministic under
    parallelism, so ``sort_array`` is mandatory for a stable result."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region),
        nation.n_regionkey == region.r_regionkey,
    )
    return joined.groupBy("r_name").agg(
        F.sort_array(F.collect_list("n_name")).alias("nations")
    )


@_register(
    "sink_roundtrip_partitioned",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {_dec_sum_sql('o_totalprice', 'total_price')}
    FROM orders
    WHERE o_orderstatus <> 'P'
    GROUP BY o_orderstatus
    """,
)
def sink_roundtrip_partitioned(spark, sf_dir):
    """S8 (parquet sink + partitionBy) under the oracle gate, end to
    end: write orders partitioned by o_orderstatus to a scratch dir,
    read the sink back, filter on the PARTITION column, aggregate. The
    oracle runs the same aggregate on the source table, so a sink that
    dropped/duplicated rows or mangled partition values hash-mismatches.
    The partition-column filter prunes directories at planning time
    (PartitionFilters — asserted in tests/test_plans.py), which is the
    property that makes partitioned layouts pay off at 100 TB."""
    import tempfile

    from udacity_capstone_data_engineering_spark.sources.sinks import write_parquet

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="spark_sink_gate_")
    path = write_parquet(
        orders, base, "orders_by_status", partition_by=["o_orderstatus"]
    )
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") != "P")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Co-located bucketed join (S8/S9 scale lever)
# ---------------------------------------------------------------------------


@_register(
    "bucketed_join_coloc",
    f"""
    SELECT o_orderstatus, COUNT(*) AS n_items,
           {_dec_sum_sql('l_extendedprice', 'revenue')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def bucketed_join_coloc(spark, sf_dir):
    """Bucketed co-located join under the oracle gate: write lineitem
    and orders bucketed 8 ways on the join key (sorted within buckets),
    read both back from the catalog, and sort-merge-join WITHOUT a
    shuffle on either side (asserted in tests/test_plans.py — zero
    Exchange under the join). This is the recurring-join layout that
    deletes both full-table shuffles at 100 TB; the oracle aggregate
    over the source tables proves the bucketed write+read is lossless.
    The merge hint pins SMJ so the demonstration doesn't degrade to a
    broadcast at small sf."""
    import tempfile

    from udacity_capstone_data_engineering_spark.sources.sinks import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    base = tempfile.mkdtemp(prefix="spark_bucket_gate_")
    spark.sql("DROP TABLE IF EXISTS bucketed_orders_gate")
    spark.sql("DROP TABLE IF EXISTS bucketed_lineitem_gate")
    write_bucketed(
        orders, "bucketed_orders_gate", ["o_orderkey"], 8,
        sort_by=["o_orderkey"], path=f"{base}/orders",
    )
    write_bucketed(
        lineitem, "bucketed_lineitem_gate", ["l_orderkey"], 8,
        sort_by=["l_orderkey"], path=f"{base}/lineitem",
    )
    o = spark.table("bucketed_orders_gate")
    li = spark.table("bucketed_lineitem_gate")
    j = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# SQL entry: correlated subqueries (Catalyst decorrelation)
# ---------------------------------------------------------------------------


@_register(
    "correlated_subqueries",
    """
    SELECT c_custkey, c_mktsegment,
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders,
           EXISTS(SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000) AS has_big_order
    FROM customer c
    """,
)
def correlated_subqueries(spark, sf_dir):
    """Correlated scalar + EXISTS subqueries through the SQL entry.
    Catalyst decorrelates both into joins (scalar COUNT becomes a
    left-joined aggregate, EXISTS a left-semi probe) — the rewrite that
    makes per-row-looking SQL run as two set-based joins instead of
    |customer| nested scans at 100 TB."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("cust_cs")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_cs")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               (SELECT COUNT(*) FROM orders_cs o
                WHERE o.o_custkey = c.c_custkey) AS n_orders,
               EXISTS(SELECT 1 FROM orders_cs o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000) AS has_big_order
        FROM cust_cs c
        """
    )


# ---------------------------------------------------------------------------
# Data layout: Z-order (Morton) keys
# ---------------------------------------------------------------------------


def _zorder_oracle_sql():
    from udacity_capstone_data_engineering_spark.functions.zorder import (
        morton_code_sql,
    )

    z = morton_code_sql("p_size", "p_partkey % 256", bits=8)
    return f"SELECT p_partkey, p_size, {z} AS zval FROM part"


@_register("zorder_layout_keys", _zorder_oracle_sql())
def zorder_layout_keys(spark, sf_dir):
    """Z-order (Morton) layout keys (``functions/zorder.py``): bit-
    interleave two quantized dimensions so sorting by the code before a
    partitioned write gives every output file a compact 2-D rectangle —
    2-D range predicates then prune files from parquet footer stats
    alone (measured in tests/test_round2_operators.py::TestZOrder:
    z-sorted layout overlaps strictly fewer files than a 1-D sort for
    the same box query). Pure JVM bit arithmetic."""
    from udacity_capstone_data_engineering_spark.functions.zorder import morton_code

    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        "p_size",
        morton_code(F.col("p_size"), F.col("p_partkey") % 256, bits=8).alias(
            "zval"
        ),
    )


# ---------------------------------------------------------------------------
# Warehouse: SCD Type-2 dimension builder
# ---------------------------------------------------------------------------


@_register(
    "scd2_customer_status",
    """
    WITH v AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS eff_date, o_orderstatus,
             row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ), d AS (SELECT o_custkey, eff_date, o_orderstatus FROM v WHERE rn = 1)
    SELECT o_custkey, o_orderstatus AS status, eff_date AS valid_from,
           lead(eff_date) OVER (PARTITION BY o_custkey ORDER BY eff_date)
               AS valid_to,
           lead(eff_date) OVER (PARTITION BY o_custkey ORDER BY eff_date)
               IS NULL AS is_current
    FROM d
    """,
)
def scd2_customer_status(spark, sf_dir):
    """Slowly-changing-dimension Type 2 builder: collapse a change
    stream (latest change per key per day wins) into validity intervals
    with ``lead`` — [valid_from, valid_to) rows plus an is_current
    flag. This is the star-schema dimension-maintenance operator the
    reference's monthly-batch design implies but never wrote
    (notebook cell 45 proposes monthly refresh). One shuffle on the
    dimension key; both windows share its partitioning."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    day = F.to_date("o_orderdate")
    wd = Window.partitionBy("o_custkey", day).orderBy(F.col("o_orderkey").desc())
    latest = (
        orders.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            day.alias("eff_date"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    wk = Window.partitionBy("o_custkey").orderBy("eff_date")
    nxt = F.lead("eff_date").over(wk)
    return latest.select(
        "o_custkey",
        "status",
        F.col("eff_date").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# QC: declarative expectations
# ---------------------------------------------------------------------------


@_register(
    "qc_expectations_orders",
    """
    SELECT rule, violations, (SELECT COUNT(*) FROM orders) AS n_rows FROM (
      SELECT 'totalprice_positive' AS rule,
             COUNT(*) FILTER (WHERE NOT COALESCE(o_totalprice > 0, FALSE))
                 AS violations FROM orders
      UNION ALL
      SELECT 'status_in_domain',
             COUNT(*) FILTER (WHERE NOT COALESCE(
                 o_orderstatus IN ('F', 'O', 'P'), FALSE)) FROM orders
      UNION ALL
      SELECT 'orderdate_not_null',
             COUNT(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
      UNION ALL
      SELECT 'priority_has_rank_prefix',
             COUNT(*) FILTER (WHERE NOT COALESCE(
                 o_orderpriority SIMILAR TO '[0-9]-.*', FALSE)) FROM orders
    )
    """,
)
def qc_expectations_orders(spark, sf_dir):
    """Declarative expectations (``qc.check_expectations``): named
    row-level constraints → (rule, violations, n_rows), ALL rules in a
    single aggregate pass (adding a rule costs an expression, not a
    scan). NULL predicate results count as violations — three-valued
    logic means unknown is not a pass; the reference's QC tier (§2.9)
    had exactly this class of inversion bug."""
    from udacity_capstone_data_engineering_spark.qc import check_expectations

    orders = load_table(spark, sf_dir, "orders")
    return check_expectations(
        orders,
        [
            ("totalprice_positive", F.col("o_totalprice") > 0),
            ("status_in_domain", F.col("o_orderstatus").isin("F", "O", "P")),
            ("orderdate_not_null", F.col("o_orderdate").isNotNull()),
            (
                "priority_has_rank_prefix",
                F.col("o_orderpriority").rlike("^[0-9]-"),
            ),
        ],
    )


# ---------------------------------------------------------------------------
# Scalar coverage: bitwise ops + conditional aggregates
# ---------------------------------------------------------------------------


@_register(
    "bitwise_functions",
    """
    SELECT p_partkey,
           p_partkey & 255 AS low_byte,
           p_partkey | 4096 AS with_flag,
           xor(p_partkey, 255) AS flipped,
           CAST(bit_count(p_partkey) AS INTEGER) AS popcount,
           p_partkey << 2 AS shl2,
           p_partkey >> 3 AS shr3
    FROM part
    """,
)
def bitwise_functions(spark, sf_dir):
    """Bitwise scalar coverage: and/or/xor/popcount/shifts — the ops
    behind bucket masks, bloom hashing, and the Z-order keys."""
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return part.select(
        "p_partkey",
        k.bitwiseAND(F.lit(255)).alias("low_byte"),
        k.bitwiseOR(F.lit(4096)).alias("with_flag"),
        k.bitwiseXOR(F.lit(255)).alias("flipped"),
        F.bit_count(k).alias("popcount"),
        F.shiftleft(k, 2).alias("shl2"),
        F.shiftright(k, 3).alias("shr3"),
    )


@_register(
    "conditional_aggregates",
    f"""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           bool_or(o_orderstatus = 'P') AS any_pending,
           bool_and(o_totalprice > 0) AS all_positive,
           {_dec_sum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END",
                         "finished_revenue")}
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def conditional_aggregates(spark, sf_dir):
    """Conditional aggregation family: filtered counts, bool_or/
    bool_and, conditional sums — one pass, map-side combinable (the
    pattern the reference's cell-12 null profile pioneered, §2.4 A4)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
        F.expr("bool_or(o_orderstatus = 'P')").alias("any_pending"),
        F.expr("bool_and(o_totalprice > 0)").alias("all_positive"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
            .otherwise(0)
            .cast("decimal(18,2)")
        )
        .cast("double")
        .alias("finished_revenue"),
    )


# ---------------------------------------------------------------------------
# Scalar coverage: higher-order array functions
# ---------------------------------------------------------------------------


@_register(
    "higher_order_functions",
    r"""
    WITH t AS (SELECT doc_id,
                      regexp_split_to_array(trim(lower(text)), '\s+') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(toks, x -> strlen(x) > 4)) AS INTEGER)
               AS n_long_tokens,
           CAST(list_sum(list_transform(toks, x -> strlen(x))) AS BIGINT)
               AS total_token_chars,
           list_bool_or(list_transform(toks, x -> x = 'the')) AS has_the,
           upper(toks[1]) AS first_upper
    FROM t
    """,
)
def higher_order_functions(spark, sf_dir):
    """Higher-order array functions as first-class query surface:
    filter / transform / aggregate / exists over a BOUND token column
    (the HOF no-CSE rule: project the split once). These are the
    building blocks the dedup/fingerprint tier composes; this query
    pins their scalar semantics against the oracle directly."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks")
    )
    toks = F.col("toks")
    return t.select(
        "doc_id",
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("total_token_chars"),
        F.exists(toks, lambda x: x == F.lit("the")).alias("has_the"),
        F.upper(F.element_at(toks, 1)).alias("first_upper"),
    )


# ---------------------------------------------------------------------------
# Approximate aggregation: percentile sketch with error-bound report
# ---------------------------------------------------------------------------


@_register(
    "approx_quantile_report",
    """
    SELECT CAST(q AS DOUBLE) AS q, TRUE AS within_bound
    FROM (VALUES (0.5), (0.9), (0.99)) t(q)
    """,
)
def approx_quantile_report(spark, sf_dir):
    """``approx_percentile`` (Greenwald-Khanna sketch — mergeable, one
    pass, no global sort) with its error bound CHECKED in-engine, under
    the hash gate like ``ann_recall_report``: for each q, the sketch's
    answer must sit within rank q*n ± n/accuracy (+1 for ties). The
    oracle's constant TRUE rows are a real check — a sketch regression
    flips the row and the gate goes red. The exact-rank verify is a
    count-below-value aggregate, not a sort."""
    acc = 10_000
    qs = [0.5, 0.9, 0.99]
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    sk = li.agg(
        F.expr(
            f"approx_percentile(l_extendedprice, array({','.join(map(str, qs))}), {acc})"
        ).alias("vals"),
        F.count(F.lit(1)).alias("n"),
    )
    per_q = sk.select(
        F.posexplode("vals").alias("i", "val"), "n"
    ).select(
        F.element_at(F.array(*[F.lit(q) for q in qs]), F.col("i") + 1).alias("q"),
        "val",
        "n",
    )
    # rank(val) in the full column, via a broadcast of the 3 picked values.
    ranks = li.join(F.broadcast(per_q)).groupBy("q", "val", "n").agg(
        F.sum(F.when(F.col("l_extendedprice") < F.col("val"), 1).otherwise(0)).alias(
            "below"
        ),
        F.sum(F.when(F.col("l_extendedprice") <= F.col("val"), 1).otherwise(0)).alias(
            "at_or_below"
        ),
    )
    tol = F.col("n") / F.lit(acc) + F.lit(1)
    target = F.col("q") * F.col("n")
    ok = (F.col("below") - tol <= target) & (target <= F.col("at_or_below") + tol)
    return ranks.select(F.col("q").cast("double").alias("q"), ok.alias("within_bound"))


# ---------------------------------------------------------------------------
# Fuzzy matching: SymSpell deletion-neighborhood join (edit distance <= 1)
# ---------------------------------------------------------------------------


@_register(
    "fuzzy_name_pairs",
    """
    WITH n AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM n a JOIN n b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 1
    """,
)
def fuzzy_name_pairs(spark, sf_dir):
    """Fuzzy string join via SymSpell deletion neighborhoods: all
    distinct part-name pairs within edit distance 1, WITHOUT an
    all-pairs comparison. Guaranteed complete for distance ≤ 1:
    d(a,b) ≤ 1 implies the 1-deletion neighborhoods of a and b (each
    string plus every single-character deletion of it) intersect — a
    substitution pair shares the variant deleting the differing
    position, an insert/delete pair contains one string in the other's
    deletion set. So the candidate set is an EQUI-join on the variant
    key: O(L) variants per name, one shuffle on the variant string,
    then exact `levenshtein` verifies candidates (false candidates at
    larger distances die here; the builtin is JVM-side). The oracle is
    the quadratic all-pairs join — tractable on the 64 distinct names
    at test SF, which is exactly why the engine side must NOT use it:
    at 100 TB the deletion join scales with names × L, the oracle with
    names². Spark and DuckDB both implement classic Levenshtein."""
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    variants = names.select(
        "p_name",
        F.explode(
            F.array_union(
                F.array(F.col("p_name")),
                F.expr(
                    "transform(sequence(1, length(p_name)), i -> "
                    "concat(substring(p_name, 1, i-1), "
                    "substring(p_name, i+1, length(p_name))))"
                ),
            )
        ).alias("variant"),
    )
    a = variants.select(
        F.col("p_name").alias("name_a"), F.col("variant").alias("va")
    )
    b = variants.select(
        F.col("p_name").alias("name_b"), F.col("variant").alias("vb")
    )
    cands = (
        a.join(b, (a.va == b.vb) & (a.name_a < b.name_b))
        .select("name_a", "name_b")
        .distinct()
    )
    return cands.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).filter(F.col("dist") <= 1)


# ---------------------------------------------------------------------------
# Map column functions: build -> aggregate -> explode roundtrip
# ---------------------------------------------------------------------------


@_register(
    "map_functions",
    """
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events
    GROUP BY user_id, event_type
    """,
)
def map_functions(spark, sf_dir):
    """Map-typed column coverage: per-user event-type counts packed
    into a `map<string,bigint>` (`map_from_entries` over a sorted
    `collect_list` of structs — sorting first makes the entry order
    deterministic, collect_list alone is partitioning-dependent) and
    exploded back to rows. Semantically the identity over a plain
    two-key GROUP BY — which is the point: the oracle proves the map
    build/explode roundtrip loses and corrupts nothing. Map columns
    never transit a shuffle here wider than the packed per-user row —
    the shape used for feature maps and per-entity metric bags."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    packed = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return packed.select(
        "user_id", F.explode("m").alias("event_type", "n")
    )


# ---------------------------------------------------------------------------
# VariantType: Spark 4 semi-structured column path
# ---------------------------------------------------------------------------


@_register(
    "variant_extract_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT)
               AS k_total,
           MIN(CAST(json_extract(props, '$.k') AS INTEGER)) AS k_min,
           MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def variant_extract_props(spark, sf_dir):
    """Semi-structured ingestion via Spark 4's VARIANT type:
    `parse_json` builds the binary variant encoding once, then typed
    `variant_get` paths extract fields — versus `get_json_object`,
    which re-parses the JSON text PER EXTRACTION. With one extracted
    field they tie; real ingestion pulls many fields per record, where
    variant parses once and walks the binary encoding per path — the
    reason lakehouse JSON columns are moving to variant. The variant
    column itself stays internal (binary encoding is engine-specific);
    the query emits typed scalars, mirroring `json_extract_props` so
    the two formulations cross-check through the same oracle."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "int")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("bigint").alias("k_total"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery with per-row LIMIT
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT r_name, t.n_name, t.n_cust
    FROM region, LATERAL (
        SELECT n_name, COUNT(c_custkey) AS n_cust
        FROM nation JOIN customer ON c_nationkey = n_nationkey
        WHERE n_regionkey = r_regionkey
        GROUP BY n_name
        ORDER BY n_cust DESC, n_name
        LIMIT 2
    ) t
"""


@_register("lateral_topn_per_region", _LATERAL_SQL)
def lateral_topn_per_region(spark, sf_dir):
    """Correlated LATERAL subquery with a per-outer-row LIMIT: the two
    most customer-heavy nations per region, written as SQL a reference
    user would port verbatim (both engines run the IDENTICAL statement
    — the oracle string is the Spark query). Catalyst decorrelates the
    lateral into a ranked join, so despite the per-row phrasing there
    is no per-region re-execution: at scale this is the same shape as
    the window top-k operator (`top_k_per_group`), reached from the
    SQL surface. Deterministic via the (count DESC, name) tiebreak."""
    for t in ("region", "nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Error-safe expressions: try_* family (NULL, not job-kill, on bad input)
# ---------------------------------------------------------------------------


@_register(
    "safe_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE ROUND(l_extendedprice / l_discount, 6) END
               AS price_per_disc,
           TRY_CAST(l_returnflag AS INTEGER) AS rf_int
    FROM lineitem
    """,
)
def safe_arithmetic(spark, sf_dir):
    """Error-safe expression family: `try_divide` (NULL on zero
    divisor — 2941 rows here — instead of Inf or an ANSI job kill) and
    `try_to_number` (NULL on malformed input instead of failing the
    task; `TRY_CAST` on the oracle side).
    On a 100-TB corpus a handful of dirty rows WILL exist in every
    batch; the try_* forms turn them into NULLs a downstream QC rule
    counts (`qc.expectations`), rather than killing a 1000-executor
    job at 99%. Row-local, no shuffle; the oracle spells out the exact
    NULL semantics so both engines must agree on every edge row."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide("l_extendedprice", "l_discount"), 6)
        .alias("price_per_disc"),
        F.try_to_number(F.col("l_returnflag"), F.lit("9")).cast("int")
        .alias("rf_int"),
    )


# ---------------------------------------------------------------------------
# Time-based RANGE window frame (interval preceding, not row-count)
# ---------------------------------------------------------------------------


@_register(
    "rolling_7day_order_revenue",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rev_7d
    FROM orders
    """,
)
def rolling_7day_order_revenue(spark, sf_dir):
    """Time-based rolling aggregate: per-customer revenue over a
    trailing 7-DAY interval — a RANGE frame over the timestamp, not a
    ROWS frame (`window_rolling_sum` covers that): the frame holds
    however many orders fall in the window, and peer rows (equal
    timestamps) enter together on BOTH engines by RANGE semantics, so
    no tiebreaker is needed for determinism. One shuffle on o_custkey;
    the frame evaluates with a sliding sum over the sorted partition
    (decimal-exact, order-independent). SQL surface on the Spark side
    too — interval RANGE frames aren't expressible through the
    DataFrame `rangeBetween(long)` API."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS rev_7d
        FROM orders
    """)


# ---------------------------------------------------------------------------
# IQR outlier bounds (the distribution-trim step of data cleaning)
# ---------------------------------------------------------------------------


@_register(
    "iqr_outlier_bounds",
    """
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type)
    SELECT e.event_type,
           ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo,
           ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi,
           CAST(COUNT(*) FILTER (
               WHERE value < q1 - 1.5 * (q3 - q1)
                  OR value > q3 + 1.5 * (q3 - q1)) AS BIGINT) AS n_outliers,
           COUNT(*) AS n_rows
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type, q1, q3
    """,
)
def iqr_outlier_bounds(spark, sf_dir):
    """IQR outlier detection (Tukey fences): per-group exact quartiles,
    then count of rows outside [q1 - 1.5·IQR, q3 + 1.5·IQR] — the
    standard distribution-trim step before training-data aggregation.
    Exact `percentile` matches DuckDB's `quantile_cont` definition
    ((n-1)p interpolation, proven by `median_price_per_segment`). Two
    passes over events, both shuffling only (group, quantile-state):
    at 100 TB swap `percentile` for `approx_percentile` (mergeable
    sketch, documented error) and keep the same fences. The quartile
    result is groups-sized, so the second pass joins it broadcast."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    joined = ev.join(F.broadcast(q), "event_type")
    return joined.groupBy("event_type", "q1", "q3").agg(
        F.round(F.min(lo), 6).alias("lo"),
        F.round(F.max(hi), 6).alias("hi"),
        F.sum(
            F.when((F.col("value") < lo) | (F.col("value") > hi), 1).otherwise(0)
        ).cast("bigint").alias("n_outliers"),
        F.count(F.lit(1)).alias("n_rows"),
    ).drop("q1", "q3")


# ---------------------------------------------------------------------------
# explode_outer: row preservation through empty arrays
# ---------------------------------------------------------------------------


@_register(
    "explode_outer_semantics",
    """
    SELECT event_id,
           unnest(CASE WHEN len(runs) = 0 THEN [NULL] ELSE runs END)
               AS digit_run
    FROM (SELECT event_id, regexp_extract_all(props, '[0-9]{2,}') AS runs
          FROM events)
    """,
)
def explode_outer_semantics(spark, sf_dir):
    """`explode_outer` semantics pinned: a record whose extracted array
    is EMPTY must survive as one row with a NULL element — plain
    `explode` silently drops it, the classic row-loss bug in
    feature-extraction pipelines (records with no matches vanish from
    the output and from every downstream count). The oracle emulates
    outer-explode by substituting a [NULL] list for empty arrays,
    so both engines must agree on exactly which records have no
    2-digit runs. Row-local aside from nothing — no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    runs = ev.select(
        "event_id",
        F.regexp_extract_all("props", F.lit("[0-9]{2,}"), 0).alias("runs"),
    )
    return runs.select(
        "event_id", F.explode_outer("runs").alias("digit_run")
    )


# ---------------------------------------------------------------------------
# Full outer join: snapshot reconciliation
# ---------------------------------------------------------------------------


@_register(
    "full_outer_reconciliation",
    """
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'only_finished'
                WHEN b.o_orderkey IS NULL THEN 'only_urgent'
                ELSE 'both' END AS match_status,
           COUNT(*) AS n_orders
    FROM (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') a
    FULL OUTER JOIN
         (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') b
      ON a.o_orderkey = b.o_orderkey
    GROUP BY 1
    """,
)
def full_outer_reconciliation(spark, sf_dir):
    """FULL OUTER join — the reconciliation shape (diffing two
    snapshots / CDC feeds, where rows exist on either side alone):
    urgent orders vs finished orders, classified into both /
    left-only / right-only with counts. The last join type in the
    catalog (inner/left/semi/anti/cross are covered elsewhere). A
    full outer CANNOT broadcast either side (both sides' unmatched
    rows must surface), so it plans as a shuffle join on the key at
    any scale — exactly one exchange per side here, then the classify
    + count aggregate rides the same partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("a_key")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("b_key")
    )
    j = a.join(b, a.a_key == b.b_key, "full_outer")
    status = (
        F.when(F.col("a_key").isNull(), "only_finished")
        .when(F.col("b_key").isNull(), "only_urgent")
        .otherwise("both")
    )
    return j.groupBy(status.alias("match_status")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Native ordered string aggregation (Spark 4 listagg WITHIN GROUP)
# ---------------------------------------------------------------------------

_LISTAGG_SQL = """
    SELECT r_name,
           listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
"""


@_register(
    "listagg_nations",
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def listagg_nations(spark, sf_dir):
    """Spark 4's native `listagg` with `WITHIN GROUP (ORDER BY …)` —
    the ANSI ordered string aggregation. `nations_per_region_csv`
    builds the same result by hand (collect_list → sort_array →
    array_join, required before 4.0 because collect order is
    partitioning-dependent); the WITHIN GROUP clause makes the
    ordering part of the AGGREGATE's contract instead. Both paths
    stay under the gate so the native function is proven equivalent
    to the manual composition."""
    for t in ("nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LISTAGG_SQL)


# ---------------------------------------------------------------------------
# Partitioned-at-rest catalog layout (VERDICT r2 #7)
# ---------------------------------------------------------------------------


@_register(
    "partitioned_catalog_roundtrip",
    f"""
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-11'
    GROUP BY event_type
    """,
)
def partitioned_catalog_roundtrip(spark, sf_dir):
    """The catalog's date-partitioned at-rest layout under the oracle
    gate, end to end: rewrite events hive-partitioned on event_date
    (``materialize_partitioned`` — the reference's own 100x proposal,
    notebook cell 45, implemented), read it back through the catalog,
    filter a DATE RANGE on the partition column, aggregate. The oracle
    runs the same week's aggregate on the flat source, so a layout
    that dropped/duplicated rows or mis-derived partition values
    hash-mismatches. The range predicate prunes partition directories
    at planning time and a dim-side filter prunes them at runtime via
    DPP — both asserted on this same layout in
    ``tests/test_plans.py::test_partitioned_catalog_layout_prunes_and_dpp``."""
    import tempfile

    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_partitioned,
        materialize_partitioned,
    )

    base = tempfile.mkdtemp(prefix="spark_part_catalog_")
    path = materialize_partitioned(spark, sf_dir, "events", base)
    ev = load_partitioned(spark, path).filter(
        F.col("event_date").between("2024-01-05", "2024-01-11")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Z-order clustered at-rest layout (round 5; operators/layout.py)
# ---------------------------------------------------------------------------


@_register(
    "zorder_layout_roundtrip",
    """
    SELECT event_type, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      AND value BETWEEN 100 AND 200
    GROUP BY event_type
    """,
)
def zorder_layout_roundtrip(spark, sf_dir):
    """Z-order clustered rewrite under the oracle gate, end to end:
    rewrite events Morton-clustered on (ts, value) — the two columns
    analytical scans range-filter TOGETHER, which no single sort order
    can serve — read the clustered copy back, apply the two-sided
    range predicate, aggregate. The oracle runs the same predicate on
    the flat source, so a layout that dropped, duplicated, or mangled
    rows (e.g. a non-bijective z-key projection or a lossy timestamp
    round-trip) hash-mismatches. The layout itself is what makes the
    scan cheap at 100 TB: every output file holds a contiguous curve
    segment (compact per-file ts x value hyper-rectangle), rows inside
    are z-sorted, so parquet row-group min/max statistics skip
    non-matching groups on BOTH dimensions — clustering quality and
    actual file-skipping are asserted in ``tests/test_layout.py``."""
    import tempfile

    from udacity_capstone_data_engineering_spark.operators.layout import (
        write_zordered,
    )

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="spark_zorder_")
    path = write_zordered(
        ev, ["ts", "value"], base, "events_z", bits=8, n_files=8
    )
    back = spark.read.parquet(path)
    lo = F.lit("2024-01-08 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (
        back.filter(
            (F.col("ts") >= lo)
            & (F.col("ts") < hi)
            & F.col("value").between(100, 200)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# One-pass table profiler (QC tier)
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    # (column, kind) — kind picks the min/max string representation
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
)


def _profile_repr_sql(col: str, kind: str, agg: str) -> str:
    if kind == "int":
        return f"CAST({agg}({col}) AS VARCHAR)"
    if kind == "money":
        return f"CAST(CAST({agg}({col}) AS DECIMAL(18,2)) AS VARCHAR)"
    if kind == "date":
        return f"strftime({agg}({col}), '%Y-%m-%d')"
    return f"{agg}({col})"


@_register(
    "profile_orders",
    "\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS col,
               count(*) AS n_rows,
               count(*) - count({c}) AS n_nulls,
               count(DISTINCT {c}) AS n_distinct,
               {_profile_repr_sql(c, kind, 'min')} AS min_repr,
               {_profile_repr_sql(c, kind, 'max')} AS max_repr
        FROM orders
        """
        for c, kind in _PROFILE_COLS
    ),
)
def profile_orders(spark, sf_dir):
    """One-pass column profiler (the Deequ/`summarize` capability):
    per column, row count, null count, exact distinct count, and
    canonical min/max representations — the profile the reference's
    notebook derived with one `printSchema`/`describe`/`isNull` pass
    PER COLUMN, here as ONE aggregate over ONE scan.

    Scale shape: a single Aggregate computes every column's stats in
    one pass (the multiple exact count-distincts compile to one Expand
    — the documented trade for exactness), then a `stack` pivots the
    1-row wide result to long form driver-side-free. Min/max become
    strings via explicit per-type formats (decimal/strftime), never
    engine-default casts, so representations are portable. For 100 TB
    call :func:`profile_orders_impl` with ``distinct_mode="approx"``
    (VERDICT r3 #6): `approx_count_distinct` HLL sketches drop the
    Expand multiplier entirely — one unexpanded pass — at a
    documented ±2% (tolerance-tested; rsd pinned 0.01), while this
    registered exact variant stays under the hash gate."""
    return profile_orders_impl(spark, sf_dir, distinct_mode="exact")


def profile_orders_impl(spark, sf_dir, distinct_mode: str = "exact"):
    """The profiler body; ``distinct_mode`` picks exact
    ``count_distinct`` (Expand-multiplied, hash-gated) or
    ``approx_count_distinct`` (HLL, rsd=0.01, no Expand)."""
    if distinct_mode not in ("exact", "approx"):
        raise ValueError(f"unknown distinct_mode: {distinct_mode}")
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        if kind == "int":
            mn = F.min(c).cast("string")
            mx = F.max(c).cast("string")
        elif kind == "money":
            mn = F.min(c).cast("decimal(18,2)").cast("string")
            mx = F.max(c).cast("decimal(18,2)").cast("string")
        elif kind == "date":
            mn = F.date_format(F.min(c), "yyyy-MM-dd")
            mx = F.date_format(F.max(c), "yyyy-MM-dd")
        else:
            mn = F.min(c)
            mx = F.max(c)
        nd = (
            F.count_distinct(F.col(c))
            if distinct_mode == "exact"
            else F.approx_count_distinct(F.col(c), rsd=0.01)
        )
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            nd.alias(f"{c}__nd"),
            mn.alias(f"{c}__minr"),
            mx.alias(f"{c}__maxr"),
        ]
    wide = o.agg(*aggs)
    parts = ", ".join(
        f"'{c}', {c}__nn, {c}__nd, {c}__minr, {c}__maxr"
        for c, _ in _PROFILE_COLS
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {parts}) "
            "as (col, n_nonnull, n_distinct, min_repr, max_repr)"
        ),
    ).select(
        "col",
        "n_rows",
        (F.col("n_rows") - F.col("n_nonnull")).alias("n_nulls"),
        "n_distinct",
        "min_repr",
        "max_repr",
    )


@_register("profile_orders_approx", None)
def profile_orders_approx(spark, sf_dir):
    """The 100 TB profiler shape (VERDICT r4 #7): identical output
    schema to ``profile_orders`` but distinct counts come from
    ``approx_count_distinct`` HLL sketches (rsd pinned 0.01) — ONE
    unexpanded aggregate pass instead of the exact variant's
    per-distinct-column Expand multiplier.  Approximate by
    construction, so no SQL oracle row; gated instead by the ±2%
    tolerance test against the exact profiler
    (``tests/test_round4_misc.py``), mirroring how the HLL sketch
    query is twinned with ``exact_distinct_users``."""
    return profile_orders_impl(spark, sf_dir, distinct_mode="approx")


# ---------------------------------------------------------------------------
# Incremental rollup merge (algebraic partial-agg state reuse)
# ---------------------------------------------------------------------------


@_register(
    "incremental_monthly_rollup",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / count(*), 6) AS avg_price
    FROM lineitem
    GROUP BY 1
    """,
)
def incremental_monthly_rollup(spark, sf_dir):
    """Incremental aggregation maintenance: monthly revenue stats
    REBUILT FROM DAILY PARTIALS (count + exact decimal sums — the
    algebraic aggregation state), not from the base table. The oracle
    computes the monthly answer DIRECTLY from lineitem, so the hash
    gate is the proof that merging partial states is lossless — the
    invariant every materialized-view / streaming-state / partial-agg
    design rests on (and why avg is carried as sum+count, never
    averaged averages).

    Scale shape: this is the nightly-incremental pattern — at 100 TB
    the daily tier is computed once per day-partition (map-side
    partial agg, one shuffle on day) and persisted; month-level
    refresh re-aggregates |days| rows instead of rescanning the base
    table. Here both levels run in one plan: two cheap aggregates,
    the second over ~2.4k day rows."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty_d"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
            "sum_price_d"
        ),
    )
    return daily.groupBy(
        F.date_trunc("month", "day").cast("date").alias("month")
    ).agg(
        F.sum("n_items").alias("n_items"),
        F.sum("sum_qty_d").cast("double").alias("sum_qty"),
        F.round(
            F.sum("sum_price_d").cast("double") / F.sum("n_items"), 6
        ).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (CDC / change-data-feed between table versions)
# ---------------------------------------------------------------------------


@_register(
    "orders_snapshot_diff",
    """
    WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 89 <> 0),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN 'F'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 17 = 0 THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0)
    SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
                WHEN v2.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           concat_ws(',',
               CASE WHEN v1.o_orderkey IS NOT NULL
                         AND v2.o_orderkey IS NOT NULL
                         AND v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
                    THEN 'o_orderstatus' END,
               CASE WHEN v1.o_orderkey IS NOT NULL
                         AND v2.o_orderkey IS NOT NULL
                         AND v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
                    THEN 'o_totalprice' END) AS changed_cols,
           v1.o_totalprice AS old_totalprice,
           v2.o_totalprice AS new_totalprice
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
          OR v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus
          OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
    """,
)
def orders_snapshot_diff(spark, sf_dir):
    """Snapshot diff / change-data-feed: given two versions of a
    keyed table, emit the row-level changes — inserts, deletes, and
    updates with the list of changed columns — the Delta-style CDF a
    downstream incremental consumer reads instead of re-scanning the
    table. Versions are derived deterministically from orders here
    (v2 drops %97 keys, adds back %89 keys v1 lacks, flips status on
    %13 and bumps price on %17); the diff logic is version-agnostic.
    Null-safe comparison (`IS DISTINCT FROM` / `eqNullSafe`) so NULL →
    value and value → NULL both register as changes.

    Scale shape: ONE full-outer equi-join on the table key — both
    sides shuffle-partition on o_orderkey (or co-locate for free if
    the snapshots are bucketed/partitioned by key at rest, as the
    catalog's bucketed sink does), unchanged rows are filtered before
    anything else consumes the feed. No window, no sort."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 89 != 0).alias("v1")
    v2 = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("F"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 17 == 0, F.col("o_totalprice") + 100.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .alias("v2")
    )
    joined = v1.join(
        v2, F.col("v1.o_orderkey") == F.col("v2.o_orderkey"), "full_outer"
    )
    in_v1 = F.col("v1.o_orderkey").isNotNull()
    in_v2 = F.col("v2.o_orderkey").isNotNull()
    status_chg = ~F.col("v1.o_orderstatus").eqNullSafe(
        F.col("v2.o_orderstatus")
    )
    price_chg = ~F.col("v1.o_totalprice").eqNullSafe(F.col("v2.o_totalprice"))
    return joined.filter(
        ~in_v1 | ~in_v2 | status_chg | price_chg
    ).select(
        F.coalesce(F.col("v1.o_orderkey"), F.col("v2.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(~in_v1, "insert")
        .when(~in_v2, "delete")
        .otherwise("update")
        .alias("change_type"),
        F.concat_ws(
            ",",
            F.when(in_v1 & in_v2 & status_chg, "o_orderstatus"),
            F.when(in_v1 & in_v2 & price_chg, "o_totalprice"),
        ).alias("changed_cols"),
        F.col("v1.o_totalprice").alias("old_totalprice"),
        F.col("v2.o_totalprice").alias("new_totalprice"),
    )


# ---------------------------------------------------------------------------
# Sources/sinks: JSONL edge of the format matrix
# ---------------------------------------------------------------------------


@_register(
    "jsonl_roundtrip_docs",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def jsonl_roundtrip_docs(spark, sf_dir):
    """JSON-lines sink + source under the oracle gate: write the
    corpus as JSONL (the interchange format every crawl/annotation
    vendor actually ships), read it back with an EXPLICIT schema — at
    100 TB schema inference is a full extra pass, and a sampled
    inference can silently widen or narrow types between batches.
    The oracle is the identity projection on the source table, so a
    sink that mangles a row, drops a field, or re-types a column
    hash-mismatches. JSONL stays at the pipeline edge; intermediates
    stay columnar (``sources/sinks.write_files``)."""
    import tempfile

    from udacity_capstone_data_engineering_spark.sources.sinks import write_files

    docs = load_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="spark_jsonl_gate_")
    path = write_files(docs, base, "documents_jsonl", file_format="json")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Sources/sinks: ORC edge of the format matrix
# ---------------------------------------------------------------------------


@_register(
    "orc_roundtrip_orders",
    "SELECT * FROM orders",
)
def orc_roundtrip_orders(spark, sf_dir):
    """ORC sink + source under the identity oracle: the second
    columnar format (Hive-ecosystem interchange). Types survive
    natively (no schema-on-read), and ORC keeps the same
    pushdown/pruning contract as parquet — the roundtrip proves the
    engine's format matrix isn't parquet-monoculture."""
    import tempfile

    from udacity_capstone_data_engineering_spark.sources.sinks import write_files

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="spark_orc_gate_")
    path = write_files(orders, base, "orders_orc", file_format="orc")
    return spark.read.orc(path).select(*orders.columns)


# ---------------------------------------------------------------------------
# Ops: join-key skew profiler (the pre-salting diagnostic)
# ---------------------------------------------------------------------------

_SKEW_TOPK = 20


@_register(
    "join_key_skew_profile",
    f"""
    WITH freq AS (
      SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys
            FROM lineitem)
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
           CAST({exact_round_div_sql("cnt * 1000000", "t.total", 0)} AS BIGINT)
             AS share_ppm,
           CAST({exact_round_div_sql("cnt * t.n_keys * 1000", "t.total", 0)}
             AS BIGINT) AS x_mean_permille
    FROM freq CROSS JOIN tot t
    ORDER BY cnt DESC, key
    LIMIT {_SKEW_TOPK}
    """,
)
def join_key_skew_profile(spark, sf_dir):
    """The diagnostic a 100 TB join runs BEFORE choosing a strategy:
    top-20 heaviest join keys with exact share (ppm of all rows) and
    skew factor (x the mean key frequency, permille) — the numbers
    that decide between plain shuffle, AQE skew split, salting, or a
    broadcast of the hot slice (`operators/skew.py`). One counting
    aggregation + a 1-row stats broadcast + TakeOrderedAndProject —
    the profile costs one scan no matter the corpus. Ratios are
    rounded in exact BIGINT arithmetic (the divide-then-round rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = li.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("l_partkey").alias("n_keys"),
    )
    return (
        freq.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            exact_round_div(
                F.col("cnt") * F.lit(1_000_000), F.col("total"), 0
            ).alias("share_ppm"),
            exact_round_div(
                F.col("cnt") * F.col("n_keys") * F.lit(1000), F.col("total"), 0
            ).alias("x_mean_permille"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(_SKEW_TOPK)
    )
