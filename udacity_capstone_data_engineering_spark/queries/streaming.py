"""Streaming-semantics catalog rows, run in batch mode: tumbling and
sliding event-time windows, sessionization (manual and native
``session_window``), gap fill, and the temporal joins (as-of and
60-second range).

Registered into the one catalog registry (``queries/__init__.py``);
the house determinism rules in its docstring apply.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.queries import _dec_sum_sql, _register
from udacity_capstone_data_engineering_spark.sources.catalog import (
    event_timestamp,
    load_table,
)
from udacity_capstone_data_engineering_spark.streaming.windows import (
    sliding_window_agg,
    tumbling_window_agg,
)


# ---------------------------------------------------------------------------
# Streaming-semantics tier (batch-mode F.window; SURVEY.md §2.8)
# ---------------------------------------------------------------------------


@_register(
    "events_tumbling_hourly",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           COUNT(*) AS event_count,
           {_dec_sum_sql('value', 'total_value')}
    FROM events
    GROUP BY 1
    """,
)
def events_tumbling_hourly(spark, sf_dir):
    """Tumbling 1-hour window aggregation — identical code path works
    on a streaming DataFrame with a watermark (streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_utc", event_timestamp("ts")
    )
    return tumbling_window_agg(
        ev,
        "ts_utc",
        "1 hour",
        aggs={
            "event_count": "count(1)",
            "total_value": "cast(sum(cast(value as decimal(18,2))) as double)",
        },
    )


@_register(
    "events_sliding_halfhour",
    """
    SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type,
           COUNT(*) AS event_count
    FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                         time_bucket(INTERVAL '30 minutes', ts)
                             - INTERVAL '30 minutes']) AS ws,
                 event_type
          FROM events)
    GROUP BY 1, 2
    """,
)
def events_sliding_halfhour(spark, sf_dir):
    """Sliding window: 1-hour length, 30-minute slide, keyed by event
    type. Each event lands in exactly 2 panes (the oracle enumerates
    them explicitly)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_utc", event_timestamp("ts")
    )
    return sliding_window_agg(
        ev,
        "ts_utc",
        "1 hour",
        "30 minutes",
        keys=["event_type"],
        aggs={"event_count": "count(1)"},
    )


@_register(
    "events_sessionize",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(1 + SUM(CASE WHEN gap THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM (SELECT user_id,
                 ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '30 minutes' AS gap
          FROM events)
    GROUP BY user_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization (gaps-and-islands): a new session starts after a
    >30-min silence. In true streaming this is a session window /
    applyInPandasWithState; in batch it is lag + conditional count —
    one shuffle on user_id. Microsecond timestamps are compared exactly
    (integer micros under the hood — no float time math)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        (
            F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")
        ).alias("gap"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.lit(1)
            + F.sum(F.when(F.col("gap"), 1).otherwise(0))
        ).cast("bigint").alias("n_sessions"),
    )


@_register(
    "asof_join_purchase_view",
    """
    SELECT event_id, user_id, ts, prev_view_ts
    FROM (
        SELECT event_id, user_id, ts, is_purchase,
               MAX(CASE WHEN NOT is_purchase THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, is_purchase, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_view_ts
        FROM (
            SELECT event_id, user_id, epoch_us(ts) AS ts,
                   event_type = 'purchase' AS is_purchase
            FROM events WHERE event_type IN ('view', 'purchase')))
    WHERE is_purchase
    """,
)
def asof_join_purchase_view(spark, sf_dir):
    """AS-OF join (operator Spark lacks natively): each purchase matched
    to the user's most recent strictly-preceding view.

    Implemented with the union+window formulation — both streams in one
    partition-by-user sort, running MAX of view timestamps over the
    preceding frame — ONE shuffle, no range self-join, no row
    explosion. This is the 100-TB-safe shape for as-of semantics.
    Comparisons are exact integer micros (``unix_micros``), matching
    the oracle's ``epoch_us``."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts"),
        (F.col("event_type") == "purchase").alias("is_purchase"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_view = F.max(
        F.when(~F.col("is_purchase"), F.col("ts"))
    ).over(w)
    return (
        tagged.withColumn("prev_view_ts", prev_view)
        .filter("is_purchase")
        .select("event_id", "user_id", "ts", "prev_view_ts")
    )


@_register(
    "range_join_events_60s",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
    """,
)
def range_join_events_60s(spark, sf_dir):
    """Range (interval) join: same-user event pairs within 60 seconds.

    Spark has no native band join; the scalable formulation buckets
    time into window-width epochs and probes each row into its own and
    the NEXT bucket, turning the range join into an equi join on
    (user, bucket) + residual filter. Candidate count stays linear in
    events per (user, minute) instead of quadratic per user."""
    window_us = 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts"),
    )
    bucket = F.expr(f"ts DIV {window_us}")
    probes = ev.select(
        F.col("event_id").alias("id_a"),
        "user_id",
        F.col("ts").alias("ts_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
    )
    build = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
        bucket.alias("bucket"),
    )
    return (
        probes.join(
            build,
            (probes.user_id == build.user_b) & (probes.bucket == build.bucket),
        )
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + window_us)
        )
        .select("id_a", "id_b", "user_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + forward fill
# ---------------------------------------------------------------------------


@_register(
    "events_gap_fill",
    """
    WITH agg AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events WHERE user_id < 10 GROUP BY 1, 2
    ), b AS (
      SELECT user_id, min(h) AS mn, max(h) AS mx FROM agg GROUP BY 1
    ), hours AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM b
    )
    SELECT hours.user_id, hours.h,
           agg.v AS raw_v,
           last_value(agg.v IGNORE NULLS)
               OVER (PARTITION BY hours.user_id ORDER BY hours.h) AS filled_v
    FROM hours LEFT JOIN agg
      ON hours.user_id = agg.user_id AND hours.h = agg.h
    """,
)
def events_gap_fill(spark, sf_dir):
    """Time-series gap fill (the hypertable/continuous-aggregate shape):
    per-user hourly sums, a dense hour spine generated per user with
    ``sequence`` (no calendar table, no cross join), left-join the
    sparse aggregates onto the spine, then forward-fill gaps with
    ``last(..., ignorenulls)`` over an unbounded-preceding frame. Two
    shuffles total (the agg and the spine join share the user_id key;
    the window reuses the join's partitioning)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_utc", event_timestamp("ts")
    )
    agg = (
        ev.filter(F.col("user_id") < 10)
        .groupBy(
            "user_id", F.date_trunc("hour", "ts_utc").alias("h")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
    )
    spine = (
        agg.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    from pyspark.sql import Window

    joined = spine.join(agg, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "h",
        F.col("v").alias("raw_v"),
        F.last("v", ignorenulls=True).over(w).alias("filled_v"),
    )


# ---------------------------------------------------------------------------
# Native session windows (F.session_window) vs the manual formulation
# ---------------------------------------------------------------------------


@_register(
    "events_session_window_native",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def events_session_window_native(spark, sf_dir):
    """Native session windows: `F.session_window(ts, gap)` merges
    events closer than the gap into one window per key — the SAME
    aggregation works unchanged on a stream with a watermark (where
    the manual lag/cumsum formulation cannot: LAG over an unbounded
    stream is not incrementalizable, which is exactly why the native
    operator exists). Boundary semantics pinned by the oracle: a
    session window is [first_ts, last_ts + gap), so an event arriving
    EXACTLY gap after the last starts a new session (oracle flags
    `>= INTERVAL`, not `>`). One shuffle on user_id; Spark merges
    windows via sort-within-partition, no state explosion."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
