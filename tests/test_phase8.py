"""Phase-8 behavioral-analytics semantics tests: funnel ordering,
cohort offsets, transition shares, basket pairing, RFM quintiles.

The oracle gate proves value parity with DuckDB on the driver tables;
these tests pin the SEMANTIC edge cases oracles share by construction
(a funnel that ignores ordering would still match an
ordering-ignoring oracle) against hand-built fixtures.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tests.conftest import physical_plan as _plan
from udacity_capstone_data_engineering_spark.queries import _REGISTRY


def _q(name):
    return _REGISTRY[name][0]


def _write_events(spark, tmp_path, rows):
    """Write a tiny events.parquet fixture shaped like the catalog's."""
    df = spark.createDataFrame(
        [
            (i, ts, uid, et, 1.0, "{}")
            for i, (ts, uid, et) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    return str(tmp_path)


class TestFunnelOrdering:
    def test_out_of_order_purchase_does_not_count(self, spark, tmp_path):
        t0 = dt.datetime(2024, 1, 1)

        def at(minute):
            return t0 + dt.timedelta(minutes=minute)

        rows = [
            # user 1: proper view -> click -> purchase
            (at(0), 1, "view"),
            (at(1), 1, "click"),
            (at(2), 1, "purchase"),
            # user 2: purchase BEFORE click -> reaches click step only
            (at(0), 2, "view"),
            (at(1), 2, "purchase"),
            (at(2), 2, "click"),
            # user 3: click before any view -> reaches view step only
            (at(0), 3, "click"),
            (at(1), 3, "view"),
            # user 4: never views -> in no step
            (at(0), 4, "purchase"),
        ]
        sf = _write_events(spark, tmp_path, rows)
        out = {
            r["step"]: (r["step_order"], r["users"])
            for r in _q("funnel_conversion")(spark, sf).collect()
        }
        assert out == {
            "view": (1, 3),
            "click": (2, 2),
            "purchase": (3, 1),
        }

    def test_conversion_rates(self, catalog):
        rows = catalog["funnel_conversion"].collect()
        by_order = sorted(rows, key=lambda r: r["step_order"])
        assert by_order[0]["conv_from_prev"] is None
        for prev, cur in zip(by_order, by_order[1:]):
            assert cur["users"] <= prev["users"]  # funnels only narrow
            if prev["users"]:
                assert abs(
                    cur["conv_from_prev"] - round(cur["users"] / prev["users"], 6)
                ) < 1e-9


class TestCohortRetention:
    def test_offsets_start_at_zero_and_week0_counts_all(self, catalog, spark, sf_dir):
        df = catalog["cohort_retention_weekly"]
        rows = df.collect()
        assert rows and all(r["week_offset"] >= 0 for r in rows)
        # every user is active in their own cohort's week 0, so the sum
        # of week-0 active_users equals the number of distinct users
        week0 = sum(r["active_users"] for r in rows if r["week_offset"] == 0)
        n_users = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("user_id")
            .distinct()
            .count()
        )
        assert week0 == n_users


class TestTransitionMatrix:
    def test_shares_sum_to_one_per_prev(self, catalog):
        rows = catalog["event_transition_matrix"].collect()
        assert rows
        by_prev: dict[str, float] = {}
        for r in rows:
            by_prev[r["prev_type"]] = by_prev.get(r["prev_type"], 0.0) + (
                r["share_from_prev"] or 0.0
            )
        for prev, total in by_prev.items():
            assert abs(total - 1.0) < 1e-4, (prev, total)

    def test_transition_count_is_events_minus_users(self, catalog, spark, sf_dir):
        rows = catalog["event_transition_matrix"].collect()
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        n_events = ev.count()
        n_users = ev.select("user_id").distinct().count()
        assert sum(r["transitions"] for r in rows) == n_events - n_users


class TestCopurchasePairs:
    def test_pairs_canonical_and_support_correct(self, catalog, spark, sf_dir):
        rows = catalog["copurchase_part_pairs"].collect()
        assert rows and all(r["part_a"] < r["part_b"] for r in rows)
        # spot-check the top pair's support against a direct count
        top = rows[0]
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        n = (
            li.filter(F.col("l_partkey") == top["part_a"])
            .select("l_orderkey")
            .distinct()
            .join(
                li.filter(F.col("l_partkey") == top["part_b"])
                .select("l_orderkey")
                .distinct(),
                "l_orderkey",
            )
            .count()
        )
        assert n == top["n_orders"]

    def test_no_cartesian_in_plan(self, catalog):
        plan = _plan(catalog["copurchase_part_pairs"])
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan


class TestProfileOrders:
    def test_profile_semantics(self, catalog, spark, sf_dir):
        rows = {r["col"]: r for r in catalog["profile_orders"].collect()}
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        n = orders.count()
        assert set(rows) == {
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        }
        assert all(r["n_rows"] == n for r in rows.values())
        pk = rows["o_orderkey"]
        assert pk["n_nulls"] == 0 and pk["n_distinct"] == n
        assert pk["min_repr"] == str(
            orders.agg(F.min("o_orderkey")).collect()[0][0]
        )
        # money columns render as 2-decimal strings, dates as yyyy-MM-dd
        assert "." in rows["o_totalprice"]["min_repr"]
        assert len(rows["o_orderdate"]["max_repr"]) == 10

    def test_single_scan_plan(self, catalog):
        plan = _plan(catalog["profile_orders"])
        assert plan.count("FileScan parquet") == 1  # one pass over the table


class TestIncrementalRollup:
    def test_partials_merge_equals_direct(self, catalog, spark, sf_dir):
        got = {
            r["month"]: (r["n_items"], r["sum_qty"], r["avg_price"])
            for r in catalog["incremental_monthly_rollup"].collect()
        }
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        direct = {
            r["month"]: (r["n_items"], r["sum_qty"], r["avg_price"])
            for r in li.groupBy(
                F.date_trunc("month", "l_shipdate").cast("date").alias("month")
            )
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_qty"),
                F.round(
                    F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("avg_price"),
            )
            .collect()
        }
        assert got == direct  # merging daily partials is lossless


class TestConcurrentSessionsPeak:
    def test_known_overlap_fixture(self, spark, tmp_path):
        t0 = dt.datetime(2024, 1, 1)

        def at(minute):
            return t0 + dt.timedelta(minutes=minute)

        rows = [
            # user 1: one session [0, 10]
            (at(0), 1, "view"),
            (at(10), 1, "click"),
            # user 2: one session [5, 15] (overlaps user 1 on [5, 10])
            (at(5), 2, "view"),
            (at(15), 2, "click"),
            # user 3: session [8, 9] -> triple overlap on [8, 9]
            (at(8), 3, "view"),
            (at(9), 3, "click"),
            # user 3 again after a >30min gap: second session, alone
            (at(120), 3, "view"),
        ]
        sf = _write_events(spark, tmp_path, rows)
        [r] = _q("concurrent_sessions_peak")(spark, sf).collect()
        assert r["peak_concurrent"] == 3
        assert r["first_peak_ts"] == at(8)

    def test_matches_naive_interval_overlap(self, catalog, spark, sf_dir):
        """Sweep-line result equals the quadratic self-join ground truth."""
        [r] = catalog["concurrent_sessions_peak"].collect()
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        sess = (
            ev.select(
                "user_id",
                "ts",
                F.sum(
                    F.when(
                        F.col("ts") - F.lag("ts").over(w)
                        > F.expr("INTERVAL 30 MINUTES"),
                        1,
                    ).otherwise(0)
                )
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .alias("sid"),
            )
            .groupBy("user_id", "sid")
            .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        )
        a, b = sess.alias("a"), sess.alias("b")
        # at each session start, count sessions covering that instant
        naive_peak = (
            a.crossJoin(b)
            .filter(
                (F.col("b.s") <= F.col("a.s")) & (F.col("b.e") >= F.col("a.s"))
            )
            .groupBy("a.user_id", "a.sid")
            .agg(F.count(F.lit(1)).alias("active"))
            .agg(F.max("active").alias("m"))
            .collect()[0]["m"]
        )
        assert r["peak_concurrent"] == naive_peak


class TestTimeWeightedAvg:
    def test_hand_computed_weights(self, spark, tmp_path):
        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [
                # value 10 for 60s, value 20 for 30s, last row unweighted
                (0, t0, 1, "view", 10.0, "{}"),
                (1, t0 + dt.timedelta(seconds=60), 1, "view", 20.0, "{}"),
                (2, t0 + dt.timedelta(seconds=90), 1, "view", 99.0, "{}"),
            ],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/events.parquet"
        )
        [r] = _q("time_weighted_avg_value")(spark, str(tmp_path)).collect()
        assert r["observed_s"] == 90.0
        assert abs(r["tw_avg_value"] - (10 * 60 + 20 * 30) / 90) < 1e-6

    def test_observed_span_equals_first_to_last(self, catalog, spark, sf_dir):
        rows = catalog["time_weighted_avg_value"].collect()
        spans = {
            r["user_id"]: r["span"]
            for r in spark.read.parquet(f"{sf_dir}/events.parquet")
            .groupBy("user_id")
            .agg(
                (
                    (
                        F.unix_micros(F.max("ts").cast("timestamp"))
                        - F.unix_micros(F.min("ts").cast("timestamp"))
                    ).cast("double")
                    / 1e6
                ).alias("span")
            )
            .collect()
        }
        for r in rows:
            assert abs(r["observed_s"] - spans[r["user_id"]]) < 1e-6


class TestSnapshotDiff:
    def test_change_accounting(self, catalog, spark, sf_dir):
        rows = catalog["orders_snapshot_diff"].collect()
        by_type: dict[str, list] = {}
        for r in rows:
            by_type.setdefault(r["change_type"], []).append(r)
        keys = [
            r["o_orderkey"]
            for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select("o_orderkey")
            .collect()
        ]
        exp_inserts = {k for k in keys if k % 89 == 0 and k % 97 != 0}
        exp_deletes = {k for k in keys if k % 97 == 0 and k % 89 != 0}
        assert {r["o_orderkey"] for r in by_type["insert"]} == exp_inserts
        assert {r["o_orderkey"] for r in by_type["delete"]} == exp_deletes
        for r in by_type["update"]:
            assert r["changed_cols"]  # every update names its columns
            if "o_totalprice" in r["changed_cols"]:
                assert abs(
                    r["new_totalprice"] - r["old_totalprice"] - 100.0
                ) < 1e-9
        # deletes carry only old values, inserts only new
        assert all(r["new_totalprice"] is None for r in by_type["delete"])
        assert all(r["old_totalprice"] is None for r in by_type["insert"])


class TestAttribution:
    def test_last_touch_fixture(self, spark, tmp_path):
        t0 = dt.datetime(2024, 1, 1)

        def at(minute):
            return t0 + dt.timedelta(minutes=minute)

        rows = [
            # user 1: view -> click -> purchase  => credited to click
            (at(0), 1, "view"),
            (at(1), 1, "click"),
            (at(2), 1, "purchase"),
            # user 2: purchase with no prior touch => (none)
            (at(0), 2, "purchase"),
            # user 2: then view -> purchase => view
            (at(1), 2, "view"),
            (at(2), 2, "purchase"),
            # user 3: click -> purchase -> purchase => click twice
            # (a purchase is not a touch, so the carry skips it)
            (at(0), 3, "click"),
            (at(1), 3, "purchase"),
            (at(2), 3, "purchase"),
        ]
        sf = _write_events(spark, tmp_path, rows)
        got = {
            r["channel"]: r["n_purchases"]
            for r in _q("attribution_last_touch")(spark, sf).collect()
        }
        assert got == {"click": 3, "(none)": 1, "view": 1}

    def test_totals_cover_all_purchases(self, catalog, spark, sf_dir):
        rows = catalog["attribution_last_touch"].collect()
        n = sum(r["n_purchases"] for r in rows)
        expect = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .filter(F.col("event_type") == "purchase")
            .count()
        )
        assert n == expect


class TestZscore:
    def test_group_mean_zero_std_one(self, catalog):
        rows = catalog["zscore_events"].collect()
        by_type: dict[str, list[float]] = {}
        for r in rows:
            by_type.setdefault(r["event_type"], []).append(r["zscore"])
        import statistics

        for t, zs in by_type.items():
            assert abs(statistics.fmean(zs)) < 1e-3, t
            assert abs(statistics.stdev(zs) - 1.0) < 1e-3, t

    def test_partitioning_invariant(self, catalog, spark, sf_dir, tmp_path):
        """Decimal-exact sums make z-scores identical under a hostile
        re-partitioning of the input (float aggs would drift)."""
        a = {
            (r["event_id"], r["zscore"])
            for r in catalog["zscore_events"].collect()
        }
        (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .repartition(13)
            .write.mode("overwrite")
            .parquet(f"{tmp_path}/events.parquet")
        )
        b = {
            (r["event_id"], r["zscore"])
            for r in _q("zscore_events")(spark, str(tmp_path)).collect()
        }
        assert a == b


class TestSessionPaths:
    def test_fixture_path_and_truncation(self, spark, tmp_path):
        t0 = dt.datetime(2024, 1, 1)

        def at(minute):
            return t0 + dt.timedelta(minutes=minute)

        rows = [(at(i), 1, t) for i, t in enumerate(
            ["view", "click", "view", "click", "purchase", "error", "error"]
        )]  # 7 events, one session -> path truncated to first 5
        rows += [(at(0), 2, "view"), (at(1), 2, "click")]
        sf = _write_events(spark, tmp_path, rows)
        got = {r["path"]: r["n_sessions"] for r in _q("top_session_paths")(spark, sf).collect()}
        assert got == {"view>click>view>click>purchase": 1, "view>click": 1}

    def test_session_count_matches_sessionize(self, catalog):
        rows = catalog["top_session_paths"].collect()
        total_paths = sum(r["n_sessions"] for r in rows)
        sess = catalog["events_sessionize"].collect()
        total_sessions = sum(r["n_sessions"] for r in sess)
        assert total_paths <= total_sessions
        if len(rows) < 20:  # no truncation -> exact cover
            assert total_paths == total_sessions


class TestDedupHistogram:
    def test_histogram_accounts_for_every_doc(self, catalog, spark, sf_dir):
        rows = catalog["dedup_cluster_histogram"].collect()
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert sum(r["n_docs"] for r in rows) == n_docs
        for r in rows:
            assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
            assert r["removable_docs"] == r["n_docs"] - r["n_clusters"]


class TestConversionLag:
    def test_percentiles_match_python_reference(self, catalog, spark, sf_dir):
        rows = {r["pctl"]: r["lag_seconds"] for r in
                catalog["conversion_lag_percentiles"].collect()}
        assert list(sorted(rows)) == [0.25, 0.5, 0.75, 0.9]
        vals = [rows[p] for p in sorted(rows)]
        assert vals == sorted(vals)  # monotone
        # python reference with the same (n-1)*p interpolation
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        firsts = ev.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
        ).collect()
        lags = sorted(
            (r["fp"] - r["fv"]).total_seconds()
            for r in firsts
            if r["fv"] and r["fp"] and r["fp"] > r["fv"]
        )
        for p in (0.25, 0.5, 0.75, 0.9):
            idx = (len(lags) - 1) * p
            lo, hi = int(idx), min(int(idx) + 1, len(lags) - 1)
            ref = lags[lo] + (idx - lo) * (lags[hi] - lags[lo])
            assert abs(rows[p] - ref) < 1e-3, (p, rows[p], ref)


class TestAbcPareto:
    def test_classes_partition_and_shares_monotone(self, catalog):
        rows = sorted(
            catalog["parts_abc_pareto"].collect(),
            key=lambda r: r["cum_share"],
        )
        assert abs(rows[-1]["cum_share"] - 1.0) < 1e-9
        seen = [r["abc_class"] for r in rows]
        # classes appear in order A..B..C along the cumulative curve
        assert seen == sorted(seen)
        assert {"A", "B", "C"} >= set(seen) and "A" in seen and "C" in seen
        revs = [r["revenue"] for r in rows]
        assert revs == sorted(revs, reverse=True)  # ranked by revenue
        # A-class revenue share is within (0, 0.8] by construction
        a_share = max(r["cum_share"] for r in rows if r["abc_class"] == "A")
        assert 0 < a_share <= 0.8


class TestGini:
    def test_matches_python_reference_and_bounds(self, catalog, spark, sf_dir):
        [r] = catalog["customer_spend_gini"].collect()
        assert 0.0 <= r["gini"] <= 1.0
        spend = sorted(
            x["s"]
            for x in spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("s"))
            .collect()
        )
        n, tot = len(spend), sum(spend)
        ref = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(spend)) / (
            n * tot
        )
        assert abs(r["gini"] - ref) < 1e-4
        assert r["n_customers"] == n

    def test_equal_spend_gives_zero(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, i, "O", 100.0, dt.datetime(1995, 1, 1), "1-URGENT")
             for i in range(10)],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, "
            "o_orderpriority string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/orders.parquet"
        )
        [r] = _q("customer_spend_gini")(spark, str(tmp_path)).collect()
        assert r["gini"] == 0.0 and r["n_customers"] == 10


class TestChisq:
    def test_matches_python_reference(self, catalog, spark, sf_dir):
        [r] = catalog["event_weekday_chisq"].collect()
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_type", F.weekday(F.col("ts").cast("timestamp")).alias("wd")
        ).collect()
        from collections import Counter

        cells = Counter((x["event_type"], x["wd"]) for x in ev)
        rowt = Counter()
        colt = Counter()
        for (t, w), c in cells.items():
            rowt[t] += c
            colt[w] += c
        n = sum(cells.values())
        chi2 = sum(
            (c - rowt[t] * colt[w] / n) ** 2 / (rowt[t] * colt[w] / n)
            for (t, w), c in cells.items()
        )
        assert abs(r["chi2"] - chi2) < 1e-4
        assert r["dof"] == (len(rowt) - 1) * (len(colt) - 1)
        assert r["n"] == n


class TestGraphStats:
    def test_triangle_on_known_graph(self, spark, tmp_path):
        # orders as baskets: build K4 on parts 1-4 (4 triangles... no:
        # K4 has C(4,3)=4 triangles) plus a pendant edge 4-5.
        # Every pair must co-occur in >= 2 orders to become an edge.
        baskets = [
            [1, 2, 3, 4], [1, 2, 3, 4],  # K4 twice -> all 6 pairs support 2
            [4, 5], [4, 5],              # pendant edge
            [6, 7],                      # support-1 pair -> NOT an edge
        ]
        rows = []
        for ok, parts in enumerate(baskets):
            for ln, p in enumerate(parts, start=1):
                rows.append((ok, p, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O",
                             dt.datetime(1995, 1, 1)))
        spark.createDataFrame(
            rows,
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{tmp_path}/lineitem.parquet"
        )
        got = {
            r["metric"]: r["value"]
            for r in _q("copurchase_graph_stats")(spark, str(tmp_path)).collect()
        }
        assert got == {
            "n_nodes": 5,       # parts 1-5 (6,7 never reach support 2)
            "n_edges": 7,       # K4's 6 + the pendant
            "max_degree": 4,    # part 4
            "n_triangles": 4,   # C(4,3) in K4; pendant adds none
        }

    def test_no_cartesian(self, catalog):
        plan = _plan(catalog["copurchase_graph_stats"])
        assert "CartesianProduct" not in plan


class TestRFM:
    def test_scores_are_quintiles_and_segment_concats(self, catalog):
        rows = catalog["rfm_customer_segments"].collect()
        n = len(rows)
        assert n > 0
        for axis in ("r_score", "f_score", "m_score"):
            vals = [r[axis] for r in rows]
            assert set(vals) <= {1, 2, 3, 4, 5}
            # ntile buckets differ in size by at most 1
            sizes = [vals.count(k) for k in sorted(set(vals))]
            assert max(sizes) - min(sizes) <= 1
        for r in rows[:20]:
            assert r["rfm"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"
        # most recent customer scores r=5; oldest scores r=1
        by_recency = sorted(rows, key=lambda r: (r["recency_days"], r["custkey"]))
        assert by_recency[0]["r_score"] == 5
        assert by_recency[-1]["r_score"] == 1
