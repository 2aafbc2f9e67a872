"""Property-based tests (hypothesis): operators vs pure-Python
references on randomized small inputs.

The oracle gate proves engine parity on the fixed driver tables; these
properties attack the SEMANTICS with adversarial shapes the fixtures
don't contain (all-ties, single-user storms, boundary-straddling
weights). Example counts are small because each example runs Spark
jobs — breadth comes from hypothesis' shrinking search, not volume.
"""

from __future__ import annotations

import datetime as dt
import itertools

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.queries import _REGISTRY

_PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_counter = itertools.count()


def _events_dir(spark, tmp_path, rows):
    """rows: [(minute, user_id, event_type, value)] -> catalog dir."""
    t0 = dt.datetime(2024, 1, 1)
    d = tmp_path / f"ex{next(_counter)}"
    df = spark.createDataFrame(
        [
            (i, t0 + dt.timedelta(minutes=m), u, et, v, "{}")
            for i, (m, u, et, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return str(d)


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency == pure-Python sweep
# ---------------------------------------------------------------------------


def _py_peak(rows, gap_min=30):
    """Reference: sessionize per user by gap, then count overlap of the
    closed [first, last] intervals at every session-start instant."""
    by_user: dict[int, list[int]] = {}
    for m, u, _et, _v in rows:
        by_user.setdefault(u, []).append(m)
    sessions = []
    for u, ms in by_user.items():
        ms.sort()
        start = prev = ms[0]
        for m in ms[1:]:
            if m - prev > gap_min:
                sessions.append((start, prev))
                start = m
            prev = m
        sessions.append((start, prev))
    peak, at = 0, None
    for s, _e in sorted(sessions):
        active = sum(1 for s2, e2 in sessions if s2 <= s <= e2)
        if active > peak:
            peak, at = active, s
    return peak, at


@_PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),  # minute
            st.integers(min_value=1, max_value=4),  # user
            st.just("view"),
            st.just(1.0),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: (r[0], r[1]),  # one event per user-minute
    )
)
def test_peak_concurrency_matches_python_sweep(spark, tmp_path, rows):
    sf = _events_dir(spark, tmp_path, rows)
    [got] = _REGISTRY["concurrent_sessions_peak"][0](spark, sf).collect()
    exp_peak, exp_at = _py_peak(rows)
    assert got["peak_concurrent"] == exp_peak
    assert got["first_peak_ts"] == dt.datetime(2024, 1, 1) + dt.timedelta(
        minutes=exp_at
    )


# ---------------------------------------------------------------------------
# Z-score: invariant under positive affine transforms of the values
# ---------------------------------------------------------------------------


@_PROP
@given(
    vals=st.lists(
        st.integers(min_value=-10000, max_value=10000),  # cents
        min_size=3,
        max_size=20,
    ),
    a=st.integers(min_value=1, max_value=50),
    b=st.integers(min_value=-5000, max_value=5000),
)
def test_zscore_affine_invariant(spark, tmp_path, vals, a, b):
    """z(a·x + b) == z(x) for a > 0 — the property that makes z-scores
    a NORMALIZATION (unit changes cannot move the feature)."""
    from hypothesis import assume
    import statistics

    xs = [v / 100.0 for v in vals]
    assume(len(set(xs)) > 1)  # zero variance -> no z-scores
    # keep the transformed values exact 2-decimal doubles
    ys = [round(a * x + b, 2) for x in xs]
    assume(all(abs(y) < 10**14 for y in ys))
    rows_x = [(i, 1, "view", x) for i, x in enumerate(xs)]
    rows_y = [(i, 1, "view", y) for i, y in enumerate(ys)]
    zx = {
        r["event_id"]: r["zscore"]
        for r in _REGISTRY["zscore_events"][0](
            spark, _events_dir(spark, tmp_path, rows_x)
        ).collect()
    }
    zy = {
        r["event_id"]: r["zscore"]
        for r in _REGISTRY["zscore_events"][0](
            spark, _events_dir(spark, tmp_path, rows_y)
        ).collect()
    }
    assert zx.keys() == zy.keys()
    for k in zx:
        assert abs(zx[k] - zy[k]) <= 2e-6, (k, zx[k], zy[k])
    # and the operator agrees with a python reference
    mean = statistics.fmean(xs)
    sd = statistics.stdev(xs)
    for i, x in enumerate(xs):
        assert abs(zx[i] - (x - mean) / sd) <= 2e-6


# ---------------------------------------------------------------------------
# Sequence packing == pure-Python prefix-offset reference
# ---------------------------------------------------------------------------


@_PROP
@given(
    weights=st.lists(
        st.integers(min_value=1, max_value=900),
        min_size=1,
        max_size=30,
    ),
    budget=st.integers(min_value=50, max_value=1000),
)
def test_pack_contiguous_matches_reference(spark, weights, budget):
    from udacity_capstone_data_engineering_spark.operators.packing import (
        pack_contiguous,
    )

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id long, w long"
    )
    got = {
        r["doc_id"]: (r["bucket"], r["pack_id"])
        for r in pack_contiguous(df, "doc_id", "w", budget, buckets=3).collect()
    }
    # reference: within each bucket ordered by id, pack = floor(prefix/budget)
    by_bucket: dict[int, list[int]] = {}
    for i in sorted(got):
        by_bucket.setdefault(got[i][0], []).append(i)
    for bucket, ids in by_bucket.items():
        prefix = 0
        for i in ids:
            assert got[i] == (bucket, prefix // budget), (i, got[i])
            prefix += weights[i]
    assert set(got) == set(range(len(weights)))  # every row packed once
