"""Behavioral and product-analytics catalog rows over the event stream
and the order history: distinct users, funnels, cohorts, transition
matrices and session paths, concurrency peaks, time-weighted averages,
attribution, conversion-lag percentiles, z-scores, MAD outliers, PSI
drift, chi-square tests, Pareto/Gini/RFM customer scoring, and the
co-purchase graph (pairs, item similarity, triangles, k-core,
PageRank).

Every shape is one or two shuffles keyed on user/order/cohort; nothing
is pairwise except the basket self-join, which is quadratic only in
basket size, never in order count.

Registered into the one catalog registry (``queries/__init__.py``);
the house determinism rules in its docstring apply.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.fixedpoint import (
    exact_round_div,
    exact_round_div_sql,
)
from udacity_capstone_data_engineering_spark.operators.drift import (
    psi_oracle_sql,
    psi_report,
)
from udacity_capstone_data_engineering_spark.operators.kcore import (
    kcore_fixed,
    kcore_oracle_blocks,
)
from udacity_capstone_data_engineering_spark.operators.ranking import (
    global_ntile,
    ranked_prefix,
)
from udacity_capstone_data_engineering_spark.queries import _register
from udacity_capstone_data_engineering_spark.sources.catalog import (
    fan_out_small_scan,
    load_table,
)


@_register("approx_distinct_users", None)  # sketch → rows-only check
def approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ distinct-user sketch per event type, with the exact
    count alongside. Approximate ⇒ no hash oracle; the error bound is
    unit-tested per group at |approx−exact|/exact ≤ 3·rsd
    (``tests/test_round5_misc.py::test_approx_distinct_users_error_bound``).
    At 100 TB the sketch is mergeable across partitions (one pass, no
    distinct shuffle of raw user ids)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@_register(
    "exact_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def exact_distinct_users(spark, sf_dir):
    """Exact twin of ``approx_distinct_users`` so the distinct-count
    family has a hash-checked green row beside the structurally
    no-oracle HLL sketch (VERDICT r1 next-round #4). Spark plans this
    as expand + two-phase partial aggregation — the exact-distinct
    pattern that holds at scale without a raw-id shuffle per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Ordered funnel: view -> click -> purchase
# ---------------------------------------------------------------------------


@_register(
    "funnel_conversion",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id),
    counts AS (
        SELECT 1 AS step_order, 'view' AS step,
               (SELECT count(*) FROM s1) AS users
        UNION ALL
        SELECT 2, 'click', (SELECT count(*) FROM s2)
        UNION ALL
        SELECT 3, 'purchase', (SELECT count(*) FROM s3))
    SELECT CAST(step_order AS INTEGER) AS step_order,
           step,
           CAST(users AS BIGINT) AS users,
           round(CAST(users AS DOUBLE)
                 / lag(users) OVER (ORDER BY step_order), 6)
               AS conv_from_prev
    FROM counts
    """,
)
def funnel_conversion(spark, sf_dir):
    """Ordered three-step funnel over the event stream: a user counts
    for a step only if it happened STRICTLY AFTER their entry into the
    previous step (first qualifying occurrence each time), so
    purchase-before-click users do not inflate conversion — the
    semantics of every product-analytics funnel, vs the naive
    "has all three event types" set intersection.

    Scale shape: each step is a filtered aggregate keyed on user_id
    plus an equi-join back on user_id — shuffles carry (user_id,
    timestamp) pairs only, and each successive step's build side
    shrinks monotonically (funnels only narrow), so steps 2..k join
    against ever-smaller sides. No window over the raw stream, no
    per-user event collection; k-step cost is k linear passes."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df, order, name):
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(order).cast("int").alias("step_order"),
            F.lit(name).alias("step"),
            F.col("users"),
        )

    counts = (
        _count(s1, 1, "view")
        .unionAll(_count(s2, 2, "click"))
        .unionAll(_count(s3, 3, "purchase"))
    )
    w = Window.orderBy("step_order")
    return counts.withColumn(
        "conv_from_prev",
        F.round(F.col("users") / F.lag("users").over(w), 6),
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention
# ---------------------------------------------------------------------------


@_register(
    "cohort_retention_weekly",
    """
    WITH first_seen AS (
        SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
    SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
           CAST(floor(datediff('day',
                               CAST(date_trunc('week', f.first_ts) AS DATE),
                               CAST(e.ts AS DATE)) / 7.0) AS INTEGER)
               AS week_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark, sf_dir):
    """Weekly cohort retention: users grouped by the ISO week of their
    first-ever event, then counted distinct in each subsequent week
    offset — the triangle chart behind every retention dashboard.

    Scale shape: one aggregate keyed on user_id (first-seen), one
    equi-join back on user_id, one aggregate keyed on (cohort_week,
    week_offset) — the distinct-count shuffle carries (cohort, offset,
    user_id) triples, already far smaller than the raw stream. The
    first-seen side is |users| rows; at real scale it is the side AQE
    picks to broadcast or shuffle-hash, never the stream."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "ts"
    )
    first_seen = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = F.date_trunc("week", F.col("first_ts")).cast("date")
    return (
        ev.join(first_seen, "user_id")
        .select(
            cohort.alias("cohort_week"),
            F.floor(
                F.datediff(F.col("ts").cast("date"), cohort) / F.lit(7.0)
            )
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------


@_register(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events)
    SELECT prev_type,
           event_type AS next_type,
           count(*) AS transitions,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(sum(count(*)) OVER (PARTITION BY prev_type)
                        AS DOUBLE), 6) AS share_from_prev
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: for every (prev event type -> next event type) pair,
    the transition count and its share of all transitions leaving
    prev — the "what do users do next" path summary. Ordering is made
    total with (ts, event_id) so lag() is deterministic under ties.

    Scale shape: one window shuffle keyed on user_id (sort within
    user is bounded by per-user activity), one aggregate keyed on the
    tiny (prev, next) domain with map-side partial agg, and a window
    over that domain-sized result for the shares. The raw stream is
    shuffled exactly once."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(seq_w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("transitions"))
    )
    share_w = Window.partitionBy("prev_type")
    return pairs.withColumn(
        "share_from_prev",
        F.round(
            F.col("transitions") / F.sum("transitions").over(share_w), 6
        ),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs ordered together
# ---------------------------------------------------------------------------


@_register(
    "copurchase_part_pairs",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a,
           b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM items a
    JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 100
    """,
)
def copurchase_part_pairs(spark, sf_dir):
    """Market-basket mining: the top co-purchased part pairs, counted
    over distinct parts per order (quantity-insensitive), ranked by
    support with a total (count, part_a, part_b) ordering so the
    top-100 cut is deterministic.

    Scale shape: the self-join is an equi-join ON ORDER KEY — pairs
    are enumerated only within a basket, so the blowup is quadratic in
    basket size (bounded small by the data model: line items per
    order), NEVER in order count; total pair volume is
    sum(basket_i^2), linear in orders for bounded baskets. One shuffle
    keyed on l_orderkey co-locates each basket, the pair aggregate is
    keyed on (part_a, part_b) with map-side combine, and the final
    ranking is a TakeOrderedAndProject (per-partition top-100 then
    driver merge — no global sort)."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency (no interval self-join)
# ---------------------------------------------------------------------------


@_register(
    "concurrent_sessions_peak",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sess AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
    bounds AS (
        SELECT user_id, session_id,
               min(ts) AS t_start, max(ts) AS t_end
        FROM sess GROUP BY user_id, session_id),
    deltas AS (
        SELECT t_start AS t, 1 AS d FROM bounds
        UNION ALL
        SELECT t_end AS t, -1 AS d FROM bounds),
    timeline AS (
        SELECT t, sum(d) AS net,
               sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS n_ends
        FROM deltas GROUP BY t),
    running AS (
        SELECT t,
               sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                   + n_ends AS active
        FROM timeline)
    SELECT CAST(active AS BIGINT) AS peak_concurrent,
           min(t) AS first_peak_ts
    FROM running
    WHERE active = (SELECT max(active) FROM running)
    GROUP BY active
    """,
)
def concurrent_sessions_peak(spark, sf_dir):
    """Peak number of concurrently-active sessions (30-min-gap
    sessions, active on the closed interval [first event, last
    event]), plus the first instant the peak is reached — the classic
    capacity-planning question, answered with a SWEEP LINE instead of
    the quadratic interval self-join: sessions become +1/-1 boundary
    deltas, deltas collapse per distinct instant (which also makes
    tie-handling deterministic: concurrency AT t counts sessions
    ending at t, i.e. running net + n_ends(t)), and a running sum over
    the collapsed timeline yields the active count.

    Scale shape: sessionization is one window shuffle on user_id;
    boundary deltas collapse with a map-side-combining aggregate to
    |distinct instants| rows, at most 2·sessions and typically far
    fewer than raw events. The running sum over the collapsed
    timeline is the two-level distributed prefix sum
    (``operators/ranking.ranked_prefix``, VERDICT r3 #1): quantile
    range-buckets on t, per-bucket running sums, broadcast
    per-bucket offsets — bit-identical to the single ordered window
    (integer net deltas add exactly) with no data-sized
    SinglePartition exchange; the peak is a scalar aggregate
    broadcast back, not a global max window."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "ts", "event_id"
    )
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(
            F.when(
                F.col("ts") - F.lag("ts").over(seq_w)
                > F.expr("INTERVAL 30 MINUTES"),
                1,
            ).otherwise(0)
        )
        .over(seq_w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    )
    bounds = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("t_start"), F.max("ts").alias("t_end")
    )
    deltas = bounds.select(
        F.col("t_start").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        bounds.select(F.col("t_end").alias("t"), F.lit(-1).alias("d"))
    )
    timeline = deltas.groupBy("t").agg(
        F.sum("d").alias("net"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).alias("n_ends"),
    )
    running = ranked_prefix(
        timeline, key="t", value="net", cum_col="__cum"
    ).select("t", (F.col("__cum") + F.col("n_ends")).alias("active"))
    peak = running.agg(F.max("active").alias("peak"))
    return (
        running.crossJoin(F.broadcast(peak))  # 1-row totals join
        .filter(F.col("active") == F.col("peak"))
        .groupBy(F.col("active").cast("bigint").alias("peak_concurrent"))
        .agg(F.min("t").alias("first_peak_ts"))
    )


# ---------------------------------------------------------------------------
# Time-weighted average (duration-weighted, not row-weighted)
# ---------------------------------------------------------------------------


@_register(
    "time_weighted_avg_value",
    """
    WITH seq AS (
        SELECT user_id,
               CAST(value AS DECIMAL(18,2)) AS v,
               date_diff('microsecond', ts,
                         lead(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id))
                   AS dur_us
        FROM events)
    SELECT user_id,
           round(CAST(sum(v * CAST(dur_us AS DECIMAL(20,0))) AS DOUBLE)
                 / CAST(sum(dur_us) AS DOUBLE), 6) AS tw_avg_value,
           CAST(sum(dur_us) AS DOUBLE) / 1000000.0 AS observed_s
    FROM seq
    WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
)
def time_weighted_avg_value(spark, sf_dir):
    """Time-weighted average of the event `value` per user: each
    reading is weighted by how long it was current (until the user's
    next event), the correct average for sampled gauges — a
    row-weighted mean over-counts bursts of rapid events. The last
    reading has no successor and contributes no observed time.

    Determinism: weights are integer microseconds, values are cast to
    exact decimals, so both weighted sums are exact (order-independent)
    and the one double division at the end is IEEE-identical on both
    engines — the same decimal-sum discipline as the relational tier.

    Scale shape: one window shuffle keyed on user_id (lead), then an
    aggregate on the same key — AQE coalesces these into a single
    exchange reuse; nothing else moves."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "value", "ts", "event_id"
    )
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        (
            F.unix_micros(F.lead("ts").over(seq_w)) - F.unix_micros("ts")
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return seq.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("v") * F.col("dur_us").cast("decimal(20,0)")).cast(
                "double"
            )
            / F.sum("dur_us").cast("double"),
            6,
        ).alias("tw_avg_value"),
        (F.sum("dur_us").cast("double") / F.lit(1000000.0)).alias(
            "observed_s"
        ),
    )


# ---------------------------------------------------------------------------
# Last-touch marketing attribution
# ---------------------------------------------------------------------------


@_register(
    "attribution_last_touch",
    """
    WITH tagged AS (
        SELECT user_id, event_type, ts,
               CAST(value AS DECIMAL(18,2)) AS v,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
        FROM events)
    SELECT coalesce(channel, '(none)') AS channel,
           count(*) AS n_purchases,
           CAST(sum(v) AS DOUBLE) AS attributed_value
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: every purchase is credited to the
    user's most recent PRIOR non-purchase event type (the "channel"),
    with purchase counts and decimal-exact value per channel —
    purchases with no prior touch land in '(none)'. The (ts, event_id)
    total order makes the carried-forward channel deterministic.

    Scale shape: one window shuffle keyed on user_id (the
    ignore-nulls last_value is a running carry, no self-join), then
    a domain-sized aggregate with map-side combine. The raw stream
    moves once."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(none)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic z-score normalization (feature scaling)
# ---------------------------------------------------------------------------


@_register(
    "zscore_events",
    """
    WITH stats AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
               CAST(sum(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
        FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           round((e.value - st.s / st.n)
                 / sqrt((st.sq - st.s * st.s / st.n) / (st.n - 1)), 6)
               AS zscore
    FROM events e JOIN stats st ON e.event_type = st.event_type
    WHERE st.n > 1
    """,
)
def zscore_events(spark, sf_dir):
    """Per-group z-score normalization (the feature-scaling transform
    every ML pipeline runs before training): (value − mean) / stddev
    within each event type. Naive mean/stddev aggregates of doubles
    are ORDER-DEPENDENT (float addition isn't associative, so results
    drift with partitioning); here mean and variance derive from
    exact decimal sum and sum-of-squares — the same algebraic-state
    discipline as the rollup tier — and only the final few double ops
    (identical IEEE sequence on any engine) touch floats.

    Scale shape: one aggregate keyed on event_type (tiny domain), the
    per-group stats broadcast back onto the stream — one scan + one
    broadcast join; nothing re-sorts."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "event_id", "event_type", "value"
    )
    v = F.col("value").cast("decimal(18,2)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("s"),
        F.sum(v * v).cast("double").alias("sq"),
    )
    joined = ev.join(F.broadcast(stats), "event_type").filter(F.col("n") > 1)
    mean = F.col("s") / F.col("n")
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    return joined.select(
        "event_id",
        "event_type",
        F.round((F.col("value") - mean) / F.sqrt(var), 6).alias("zscore"),
    )


# ---------------------------------------------------------------------------
# Top session paths (ordered event-type sequences)
# ---------------------------------------------------------------------------


@_register(
    "top_session_paths",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
    paths AS (
        SELECT user_id, session_id,
               array_to_string(
                   list(event_type ORDER BY ts, event_id)[1:5], '>')
                   AS path
        FROM sess GROUP BY user_id, session_id)
    SELECT path, count(*) AS n_sessions
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def top_session_paths(spark, sf_dir):
    """Top user journeys: each 30-min-gap session reduced to its first
    five event types joined as a path string, ranked by frequency with
    a total (count, path) order for a deterministic top-20. The
    grouped `collect_list` is made deterministic by collecting
    (ts, event_id, type) structs and `array_sort`-ing them — grouped
    collect order is partitioning-dependent otherwise.

    Scale shape: sessionization is one window shuffle on user_id; the
    path build is one aggregate keyed on (user, session) whose
    collected state is bounded by session length (for heavy-tailed
    sessions, pre-rank with a row_number ≤ 5 filter before collecting
    so the aggregate state is capped at five structs); the final
    count is domain-sized and TakeOrderedAndProject cuts the top-20
    without a global sort."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = ev.withColumn(
        "session_id",
        F.sum(
            F.when(
                F.col("ts") - F.lag("ts").over(seq_w)
                > F.expr("INTERVAL 30 MINUTES"),
                1,
            ).otherwise(0)
        ).over(seq_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.collect_list(
                F.struct("ts", "event_id", "event_type")
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort("evs"), lambda s: s["event_type"]
                    ),
                    1,
                    5,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Conversion-lag percentiles (time-to-convert distribution)
# ---------------------------------------------------------------------------


@_register(
    "conversion_lag_percentiles",
    """
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
        FROM events GROUP BY user_id),
    lags AS (
        SELECT date_diff('microsecond', fv, fp) AS lag_us
        FROM firsts
        WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv)
    SELECT CAST(0.25 AS DOUBLE) AS pctl,
           round(quantile_cont(lag_us, 0.25) / 1000000.0, 6) AS lag_seconds
    FROM lags
    UNION ALL
    SELECT CAST(0.5 AS DOUBLE),
           round(quantile_cont(lag_us, 0.5) / 1000000.0, 6) FROM lags
    UNION ALL
    SELECT CAST(0.75 AS DOUBLE),
           round(quantile_cont(lag_us, 0.75) / 1000000.0, 6) FROM lags
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE),
           round(quantile_cont(lag_us, 0.9) / 1000000.0, 6) FROM lags
    """,
)
def conversion_lag_percentiles(spark, sf_dir):
    """Time-to-convert distribution: p25/p50/p75/p90 of the lag from a
    user's first view to their first purchase (users who purchased
    after viewing only). Exact linearly-interpolated percentiles over
    integer microseconds — Spark's `percentile` and DuckDB's
    `quantile_cont` share the (n-1)·p interpolation rule bit-for-bit
    (verified including float artifacts), so the gate hash-checks the
    distribution itself.

    Scale shape: one aggregate keyed on user_id reduces the stream to
    |users| lag rows; the exact percentile is a single-aggregate pass
    over that reduced set (swap for `approx_percentile` at 100 TB if
    |converting users| itself is huge — same plan shape)."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts"
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("fp"),
    )
    lags = firsts.filter(
        F.col("fv").isNotNull() & F.col("fp").isNotNull()
        & (F.col("fp") > F.col("fv"))
    ).select((F.unix_micros("fp") - F.unix_micros("fv")).alias("lag_us"))
    pcts = [0.25, 0.5, 0.75, 0.9]
    arr = ", ".join(f"{p}D" for p in pcts)
    qs = lags.agg(F.expr(f"percentile(lag_us, array({arr}))").alias("qs"))
    return qs.select(F.posexplode("qs").alias("pos", "q")).select(
        F.element_at(
            F.array(*[F.lit(p) for p in pcts]), F.col("pos") + 1
        ).alias("pctl"),
        F.round(F.col("q") / 1000000.0, 6).alias("lag_seconds"),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification (cumulative revenue share)
# ---------------------------------------------------------------------------


@_register(
    "parts_abc_pareto",
    """
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
        FROM lineitem GROUP BY l_partkey),
    ranked AS (
        SELECT l_partkey,
               CAST(r AS DOUBLE) AS revenue,
               CAST(sum(r) OVER (ORDER BY r DESC, l_partkey
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   AS cum_r,
               CAST(sum(r) OVER () AS DOUBLE) AS tot
        FROM rev)
    SELECT l_partkey, revenue,
           round(cum_r / tot, 6) AS cum_share,
           CASE WHEN cum_r / tot <= 0.8 THEN 'A'
                WHEN cum_r / tot <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def parts_abc_pareto(spark, sf_dir):
    """ABC / Pareto analysis: parts ranked by revenue, classified by
    cumulative revenue share (A ≤ 80%, B ≤ 95%, C the tail) — the
    inventory-curation classic ("which 20% of parts make 80% of
    revenue"). Both the running and the grand total are DECIMAL sums
    (cast to double only for the share division), so the cumulative
    curve is exact and order-independent — a double running sum would
    drift with accumulation order and flip rows across the class
    boundaries.

    Scale shape: per-part reduction first (one keyed shuffle), then
    the cumulative curve via the two-level distributed prefix sum
    (``operators/ranking.ranked_prefix``, VERDICT r3 #1): quantile
    range-buckets on revenue DESC, per-bucket decimal running sums,
    broadcast per-bucket offsets — exact (decimal adds) and
    bit-identical to the single ordered window, with no data-sized
    SinglePartition exchange anywhere in the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r")
    )
    ranked = ranked_prefix(
        rev,
        key="r",
        tiebreaks=["l_partkey"],
        descending=True,
        value="r",
        cum_col="__cum_r",
        total_col="__tot",
    ).select(
        "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        F.col("__cum_r").cast("double").alias("cum_r"),
        F.col("__tot").cast("double").alias("tot"),
    )
    share = F.col("cum_r") / F.col("tot")
    return ranked.select(
        "l_partkey",
        "revenue",
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient (spend concentration)
# ---------------------------------------------------------------------------


@_register(
    "customer_spend_gini",
    """
    WITH spend AS (
        SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT s,
               row_number() OVER (ORDER BY s, o_custkey) AS i,
               count(*) OVER () AS n,
               sum(s) OVER () AS tot
        FROM spend)
    SELECT round(CAST(sum((2 * i - n - 1) * s) AS DOUBLE)
                 / (CAST(max(n) AS DOUBLE) * CAST(max(tot) AS DOUBLE)), 6)
               AS gini,
           CAST(max(n) AS BIGINT) AS n_customers
    FROM ranked
    """,
)
def customer_spend_gini(spark, sf_dir):
    """Gini coefficient of customer lifetime spend — the single-number
    concentration companion to the Pareto curve (0 = everyone spends
    equally, →1 = one customer is the business). Computed with the
    rank formula G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) over decimal-exact
    spend: the weighted sum stays in exact decimal (rank weights are
    integers), so the result is order-independent; rank ties share
    equal spend values, which makes the formula tie-insensitive.

    Scale shape: per-customer reduction first, then the rank weights
    come from the two-level distributed row_number
    (``operators/ranking.ranked_prefix``, VERDICT r3 #1): quantile
    range-buckets on spend, per-bucket local ranks, broadcast
    per-bucket count offsets — the rank formula decomposes exactly
    (global rank = local rank + preceding-bucket counts), so the
    result is bit-identical to the single ordered window with no
    data-sized SinglePartition exchange; n and Σx ride along from the
    same per-bucket aggregate."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
    )
    ranked = ranked_prefix(
        spend,
        key="s",
        tiebreaks=["o_custkey"],
        value="s",
        rn_col="i",
        count_col="n",
        total_col="tot",
    ).select("s", "i", "n", "tot")
    return ranked.agg(
        F.round(
            F.sum(
                (2 * F.col("i") - F.col("n") - 1) * F.col("s")
            ).cast("double")
            / (F.max("n").cast("double") * F.max("tot").cast("double")),
            6,
        ).alias("gini"),
        F.max("n").cast("bigint").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence report (event type x weekday)
# ---------------------------------------------------------------------------


@_register(
    "event_weekday_chisq",
    """
    WITH obs AS (
        SELECT event_type, isodow(ts) - 1 AS wd, count(*) AS o
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT event_type, wd, o,
               sum(o) OVER (PARTITION BY event_type) AS row_tot,
               sum(o) OVER (PARTITION BY wd) AS col_tot,
               sum(o) OVER () AS grand
        FROM obs)
    SELECT round(CAST(sum(CAST(
               power(o - CAST(row_tot AS DOUBLE) * col_tot / grand, 2)
               / (CAST(row_tot AS DOUBLE) * col_tot / grand)
               AS DECIMAL(28,10))) AS DOUBLE), 6) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT wd) - 1) AS INTEGER) AS dof,
           CAST(max(grand) AS BIGINT) AS n
    FROM m
    """,
)
def event_weekday_chisq(spark, sf_dir):
    """Chi-square test of independence between event type and weekday
    — the data-profiling question "does behavior vary by day?". Cell
    terms (O−E)²/E are computed in double (identical IEEE sequence on
    both engines, E from exact integer marginals), then summed as
    DECIMALS so the 35-cell reduction is order-independent — a plain
    double SUM over cells would be partitioning-dependent.

    Scale shape: one aggregate to the (type × weekday) contingency
    table (map-side combined), two partitioned window passes over the
    domain-sized table for the row/column marginals, the grand total
    as a scalar aggregate broadcast back (no unpartitioned window —
    VERDICT r3 #1), one scalar reduce. The raw stream is shuffled
    once."""
    ev = fan_out_small_scan(load_table(spark, sf_dir, "events")).select(
        "event_type", (F.weekday("ts")).alias("wd")
    )
    obs = ev.groupBy("event_type", "wd").agg(F.count(F.lit(1)).alias("o"))
    grand = obs.agg(F.sum("o").alias("grand"))
    m = obs.select(
        "event_type",
        "wd",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("wd")).alias("col_tot"),
    ).crossJoin(F.broadcast(grand))  # 1-row totals join (VERDICT r3 #1)
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("grand")
    term = F.pow(F.col("o") - e, 2) / e
    return m.agg(
        F.round(
            F.sum(term.cast("decimal(28,10)")).cast("double"), 6
        ).alias("chi2"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("wd") - 1)
        )
        .cast("int")
        .alias("dof"),
        F.max("grand").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# Relational graph analytics: co-purchase graph stats + triangles
# ---------------------------------------------------------------------------


@_register(
    "copurchase_graph_stats",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        FROM items a
        JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
    edges AS (SELECT pa, pb FROM pairs WHERE c >= 2),
    deg AS (
        SELECT node, count(*) AS degree
        FROM (SELECT pa AS node FROM edges
              UNION ALL SELECT pb FROM edges)
        GROUP BY node),
    tri AS (
        SELECT count(*) AS n
        FROM edges e1
        JOIN edges e2 ON e1.pb = e2.pa
        JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
    SELECT 'n_nodes' AS metric, CAST(count(*) AS BIGINT) AS value FROM deg
    UNION ALL
    SELECT 'n_edges', CAST(sum(degree) / 2 AS BIGINT) FROM deg
    UNION ALL
    SELECT 'max_degree', CAST(max(degree) AS BIGINT) FROM deg
    UNION ALL
    SELECT 'n_triangles', CAST(n AS BIGINT) FROM tri
    """,
)
def copurchase_graph_stats(spark, sf_dir):
    """Graph analytics expressed relationally: the co-purchase graph
    (parts as nodes, support-≥2 co-purchases as edges) summarized as
    node/edge counts, max degree, and TRIANGLE count — the classic
    "can the engine do graphs without a graph engine" benchmark
    (triangles drive clustering coefficients and community metrics).

    Scale shape: each undirected edge is oriented from its LOWER to
    its higher (degree, id) endpoint (VERDICT r3 #5 — the
    Schank-Wagner orientation), so the triangle join
    e1(a→b)⋈e2(b→c)⋈e3(a→c) enumerates each triangle EXACTLY once
    via two equi-joins — no cartesian, no post-hoc dedup — and every
    wedge pivots on out-edges of comparatively LOW-degree vertices:
    out-degrees are bounded by O(√edges), so a skewed hub never
    enumerates its quadratic wedge set (the id orientation did
    whenever the hub drew a low id — the fixture test measures the
    wedge-count drop). Any total vertex order yields a DAG with one
    directed copy per triangle, so the count — and the oracle hash —
    is unchanged. Node/edge/degree stats are one aggregate over the
    degree table, stacked to long form."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("pa", "pb")
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    deg_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("degree") / 2).cast("bigint").alias("n_edges"),
        F.max("degree").cast("bigint").alias("max_degree"),
    ).select(
        F.expr(
            "stack(3, 'n_nodes', n_nodes, 'n_edges', n_edges, "
            "'max_degree', max_degree) as (metric, value)"
        )
    )
    tri = _count_triangles_degree_oriented(edges, deg).select(
        F.lit("n_triangles").alias("metric"), "value"
    )
    return deg_stats.unionAll(tri)


def _count_triangles_degree_oriented(edges, deg):
    """Triangle count over canonical undirected edges (pa < pb) with
    the Schank-Wagner (degree, id) orientation: direct every edge
    from its lower to its higher (degree, id) endpoint — a DAG from a
    total vertex order, one directed copy per triangle — then close
    wedges with two equi-joins. Out-degree under this orientation is
    O(√|edges|), so wedge enumeration never goes quadratic on a
    skewed hub. ``deg`` is the (node, degree) table."""
    da = deg.select(F.col("node").alias("pa"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("pb"), F.col("degree").alias("__db"))
    e = edges.join(da, "pa").join(db, "pb")
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("pa") < F.col("pb"))
    )
    directed = e.select(
        F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    )
    e1, e2, e3 = directed.alias("e1"), directed.alias("e2"), directed.alias("e3")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("value"))
    )


# ---------------------------------------------------------------------------
# RFM customer scoring
# ---------------------------------------------------------------------------


@_register(
    "rfm_customer_segments",
    """
    WITH base AS (
        SELECT o_custkey AS custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY o_custkey),
    scored AS (
        SELECT custkey,
               CAST(datediff('day', last_order,
                             max(last_order) OVER ()) AS INTEGER)
                   AS recency_days,
               CAST(frequency AS BIGINT) AS frequency,
               monetary,
               ntile(5) OVER (ORDER BY last_order ASC, custkey) AS r_score,
               ntile(5) OVER (ORDER BY frequency ASC, custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary ASC, custkey) AS m_score
        FROM base)
    SELECT custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS rfm
    FROM scored
    """,
)
def rfm_customer_segments(spark, sf_dir):
    """RFM customer scoring: per customer, days since last order
    (relative to the dataset's newest order), order count, exact
    lifetime spend (decimal-summed), and 1-5 quintile scores on each
    axis (5 = most recent / most frequent / biggest spender),
    concatenated into the classic "555" segment code. Quintiles use a
    total ordering (metric, custkey) so bucket boundaries are
    deterministic under ties.

    Scale shape: one aggregate keyed on custkey reduces orders to one
    row per customer; each quintile score then comes from the
    two-level distributed ntile (``operators/ranking.global_ntile``,
    VERDICT r3 #1): quantile range-buckets on the metric, per-bucket
    local row numbers, broadcast per-bucket count offsets, and the
    exact ANSI ntile bucket formula over the reconstructed global
    rank — bit-identical to the three unpartitioned ntile windows
    this replaced, with no data-sized SinglePartition exchange (three
    bucket-keyed shuffles of the reduced |customers| table instead of
    three single-task sorts); the dataset-max order date is a scalar
    aggregate broadcast back, not a global max window."""
    base = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    maxlo = base.agg(F.max("last_order").alias("__max_last_order"))
    scored = base.crossJoin(F.broadcast(maxlo)).select(  # 1-row totals join
        "custkey",
        F.datediff(F.col("__max_last_order"), F.col("last_order"))
        .cast("int")
        .alias("recency_days"),
        "frequency",
        "monetary",
        "last_order",
    )
    # Score each axis INDEPENDENTLY from the same reduced base and
    # join the slim (custkey, score) outputs back: the three ranking
    # plans all reference the identical `scored` subtree, so its
    # shuffle is computed once and shared via ReusedExchange, and no
    # axis re-executes another axis's window (chaining the calls
    # instead re-runs earlier windows ~2^depth times, since exchange
    # reuse covers exchanges but not the Window operators above them).
    r_s = global_ntile(
        scored, key="last_order", tiebreaks=["custkey"], out_col="r_score"
    ).select("custkey", "r_score")
    f_s = global_ntile(
        scored, key="frequency", tiebreaks=["custkey"], out_col="f_score"
    ).select("custkey", "f_score")
    m_s = global_ntile(
        scored, key="monetary", tiebreaks=["custkey"], out_col="m_score"
    ).select("custkey", "m_score")
    scored = (
        scored.drop("last_order")
        .join(r_s, "custkey")
        .join(f_s, "custkey")
        .join(m_s, "custkey")
    )
    return scored.withColumn(
        "rfm",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# Iterative graph ranking: exact-integer PageRank (round 5)
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_SCALE = 1_000_000_000_000


def _pagerank_oracle_sql() -> str:
    """Unrolled fixed-iteration integer PageRank over the co-purchase
    graph: one CTE pair (contrib, pr) per round — same recurrence the
    Spark operator runs, in BIGINT, so the fixpoint is bit-equal."""
    base = (3 * _PR_SCALE) // 20
    ctes = [
        """
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        FROM items a
        JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
    e AS (SELECT pa, pb FROM pairs WHERE c >= 2),
    sym AS (SELECT pa AS src, pb AS dst FROM e
            UNION ALL SELECT pb, pa FROM e),
    deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY src),
    pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr_mass FROM deg)
        """.format(scale=_PR_SCALE)
    ]
    for i in range(_PR_ITERS):
        ctes.append(
            """
    c{n} AS (
        SELECT sym.dst AS node, SUM(p.pr_mass // d.deg) AS s
        FROM pr{i} p
        JOIN deg d ON p.node = d.node
        JOIN sym ON sym.src = p.node
        GROUP BY sym.dst),
    pr{n} AS (
        SELECT d.node,
               CAST({base} + (17 * COALESCE(c.s, 0)) // 20 AS BIGINT)
                   AS pr_mass
        FROM deg d LEFT JOIN c{n} c ON d.node = c.node)
            """.format(i=i, n=i + 1, base=base)
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT node AS part, pr_mass FROM pr{_PR_ITERS}
    ORDER BY pr_mass DESC, node LIMIT 20
    """
    )


@_register("copurchase_pagerank", _pagerank_oracle_sql())
def copurchase_pagerank(spark, sf_dir):
    """PageRank over the co-purchase graph (same support-≥2 edge set
    as ``copurchase_graph_stats``), 5 damped rounds in EXACT INTEGER
    arithmetic (``operators/clusters.pagerank_fixed``): rank mass is a
    BIGINT multiple of 1e-12, contributions use integer division, and
    damping is the exact rational 17/20 — so the result of the
    iterative algorithm is bit-equal across engines, partitionings,
    and shuffles, and a DuckDB oracle can replay the recurrence
    unrolled. This is the determinism discipline the house applies to
    money sums, extended to the one algorithm class (iterative graph
    ranking) engines usually concede to floats.

    Scale shape: per round one edge-list⋈rank join + one groupBy —
    the ``connected_components`` shape; the edge list and degree
    relation are persisted once, lineage cut per round. Top-20 by
    (pr_mass DESC, part) is TakeOrderedAndProject with a unique
    tiebreak."""
    from udacity_capstone_data_engineering_spark.operators.clusters import (
        pagerank_fixed,
    )

    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
    )
    sym = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    pr = pagerank_fixed(
        sym, iterations=_PR_ITERS, mass_scale=_PR_SCALE
    )
    return (
        pr.select(F.col("node").alias("part"), "pr_mass")
        .orderBy(F.col("pr_mass").desc(), "part")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Monitoring: PSI drift between event periods
# ---------------------------------------------------------------------------

_PSI_PIVOT = "2024-01-16 00:00:00"
_PSI_WIDTH = 25.0
_PSI_BUCKETS = 10


@_register(
    "psi_event_drift",
    psi_oracle_sql(
        "events", "event_type", "ts", "value", _PSI_PIVOT, _PSI_WIDTH, _PSI_BUCKETS
    ),
)
def psi_event_drift(spark, sf_dir):
    """Population Stability Index of the event value distribution per
    event type, first half of the month vs second — the continuous
    drift monitor a production pipeline alerts on (0.1 = drifting,
    0.25 = major shift). One counting pass over the stream with
    map-side partial aggregation; everything after is arithmetic on a
    keys x 2 x 10 grid (``operators/drift.py``)."""
    events = load_table(spark, sf_dir, "events")
    return psi_report(
        events, "event_type", "ts", "value", _PSI_PIVOT, _PSI_WIDTH, _PSI_BUCKETS
    )


# ---------------------------------------------------------------------------
# Graph: k-core of the co-purchase graph (fixed-round peeling)
# ---------------------------------------------------------------------------

_KCORE_K = 3
# measured peel depths to convergence on the driver data: 0 (sf0.001),
# 10 (sf0.01), 2 (sf0.1, core empties) — 10 covers all, extra rounds
# are no-ops on the fixpoint (unit-tested)
_KCORE_ROUNDS = 10

_COPURCHASE_EDGE_CTES = """items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    cp_pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
      FROM items a
      JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    cp_e AS (SELECT pa, pb FROM cp_pairs WHERE c >= 2),
    cp_sym AS (SELECT pa AS src, pb AS dst FROM cp_e
               UNION ALL SELECT pb, pa FROM cp_e)"""


def _kcore_oracle_sql() -> str:
    blocks, final = kcore_oracle_blocks("cp_sym", _KCORE_K, _KCORE_ROUNDS)
    return (
        "WITH "
        + _COPURCHASE_EDGE_CTES
        + ",\n    "
        + ",\n    ".join(blocks)
        + f"""
    SELECT src AS part, count(*) AS core_deg
    FROM {final} GROUP BY 1
    """
    )


@_register("copurchase_kcore", _kcore_oracle_sql())
def copurchase_kcore(spark, sf_dir):
    """3-core of the co-purchase graph (same support->=2 edge set as
    `copurchase_pagerank`): the dense-cohort extractor, by 10 rounds
    of exact set-algebra peeling — degree count, threshold, endpoint
    semi-joins, all on the edge list, lineage cut per round
    (``operators/kcore.py``). Fixed rounds make the iterative
    algorithm engine-exact, so the surviving vertices AND their
    residual degrees are hash-gated against the unrolled-CTE oracle
    (the PageRank pattern, third application). 10 rounds covers the
    measured convergence depth at every driver sf (0/10/2; the sf0.1
    support->=2 graph peels to an EMPTY 3-core — a finding, not a
    bug), and rounds past the fixpoint are idempotent no-ops."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
    )
    sym = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).union(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    out = kcore_fixed(sym, _KCORE_K, _KCORE_ROUNDS)
    return out.select(F.col("node").alias("part"), "core_deg")


# ---------------------------------------------------------------------------
# Recsys: item-item similarity over co-purchase baskets
# ---------------------------------------------------------------------------

_SIM_TOPK = 5


@_register(
    "item_similarity_jaccard",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    basket_n AS (
      SELECT l_partkey AS part, count(*) AS n FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
      FROM items a
      JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    sym AS (
      SELECT pa AS part, pb AS other, c FROM pairs
      UNION ALL SELECT pb, pa, c FROM pairs),
    scored AS (
      SELECT s.part, s.other,
             CAST({exact_round_div_sql("s.c * 1000000000", "(na.n + nb.n - s.c)", 3)} AS DOUBLE) / 1000000.0 AS jaccard
      FROM sym s
      JOIN basket_n na ON na.part = s.part
      JOIN basket_n nb ON nb.part = s.other)
    SELECT part, other, jaccard FROM (
      SELECT part, other, jaccard,
             row_number() OVER (PARTITION BY part
                                ORDER BY jaccard DESC, other) AS rn
      FROM scored)
    WHERE rn <= {_SIM_TOPK}
    """,
)
def item_similarity_jaccard(spark, sf_dir):
    """Item-item collaborative similarity (the classic recsys
    neighborhood model): Jaccard of the order-basket sets,
    J(a,b) = |A∩B| / (|A| + |B| - |A∩B|), top-5 neighbors per part
    under a (jaccard, other) total order. Co-occurrence counts come
    from the same basket self-join as the co-purchase graph — at
    scale that join is bounded by sum-of-basket-sizes-squared (basket
    sizes are small and capped in practice), never items-squared; the
    per-part top-k runs as a WindowGroupLimit-pushed ranked window.
    The similarity is a small-integer rational — exactly the
    divide-then-round hazard class — so it is rounded to the 1e-6
    grid in exact BIGINT arithmetic (functions/fixedpoint.py), and
    the ranking orders by the rounded value with the id tiebreak."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    basket_n = items.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sym = pairs.select(
        F.col("pa").alias("part"), F.col("pb").alias("other"), "c"
    ).union(
        pairs.select(
            F.col("pb").alias("part"), F.col("pa").alias("other"), "c"
        )
    )
    na = basket_n.select(F.col("part"), F.col("n").alias("na"))
    nb = basket_n.select(F.col("part").alias("other"), F.col("n").alias("nb"))
    scored = (
        sym.join(na, "part")
        .join(nb, "other")
        .select(
            "part",
            "other",
            (
                exact_round_div(
                    F.col("c") * F.lit(10**9),
                    F.col("na") + F.col("nb") - F.col("c"),
                    3,
                ).cast("double")
                / F.lit(1e6)
            ).alias("jaccard"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("part").orderBy(F.desc("jaccard"), "other")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SIM_TOPK)
        .select("part", "other", "jaccard")
    )


# ---------------------------------------------------------------------------
# Monitoring: MAD-based robust outlier detection per event type
# ---------------------------------------------------------------------------


@_register(
    "event_value_outliers_mad",
    """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    med AS (
      SELECT event_type, value AS median
      FROM ranked WHERE rn = (n + 1) // 2),
    dev AS (
      SELECT r.event_type, abs(r.value - m.median) AS adev, m.median,
             row_number() OVER (PARTITION BY r.event_type
                                ORDER BY abs(r.value - m.median),
                                         r.value, r.rn) AS drn,
             count(*) OVER (PARTITION BY r.event_type) AS n
      FROM ranked r JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, median, adev AS mad
      FROM dev WHERE drn = (n + 1) // 2)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(m.median, 6) AS median,
           ROUND(m.mad, 6) AS mad,
           CAST(count(*) FILTER (abs(e.value - m.median) > 3 * m.mad)
                AS BIGINT) AS n_outliers
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type, m.median, m.mad
    """,
)
def event_value_outliers_mad(spark, sf_dir):
    """Robust outlier monitor: per event type, the DISCRETE (lower)
    median and the median absolute deviation, then the count of values
    past the classic 3*MAD fence — the monitor that survives the very
    outliers it hunts (mean/stddev fences get dragged by them).
    Determinism: both medians are ORDER STATISTICS selected under a
    total order (value, event_id — never interpolated floats), so the
    fence arithmetic is identical IEEE ops on identical doubles in
    both engines. Scale shape: two ranked windows per key (sort-based,
    partition = event type; a skewed key follows the house salting
    path) and one counting join — no global sort, no collect."""
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", F.col("value").alias("median"))
    dev_base = ranked.join(med, "event_type").select(
        "event_type",
        "median",
        F.abs(F.col("value") - F.col("median")).alias("adev"),
        "value",
        "rn",
    )
    wd = Window.partitionBy("event_type").orderBy("adev", "value", "rn")
    mad = (
        dev_base.select(
            "event_type",
            "median",
            "adev",
            F.row_number().over(wd).alias("drn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("drn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", "median", F.col("adev").alias("mad"))
    )
    return (
        events.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("median"))
                    > 3 * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("median", 6).alias("median"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )
