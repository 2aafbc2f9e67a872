"""Exact cosine on its two plans — the block scan under the byte cap and
the expression plan past it — for self top-k, ``queries=`` top-k and
threshold pairs, including degenerate input."""

from __future__ import annotations

import math

import numpy as np

SCHEMA = "vec_id long, embedding array<float>"
DIM = 16
NAN = float("nan")


def both_plans(monkeypatch, call, past_cap="_pairwise_cosine"):
    """Sorted rows of ``call()`` at the default byte cap and at cap 0,
    after checking that the scan ran under the cap and ``past_cap``
    past it (an empty corpus is under every cap)."""
    from udacity_capstone_data_engineering_spark.operators import similarity

    got = {}
    for plan, ran_by in (("scan", "_cosine_scan"), ("expr", past_cap)):
        ran = []
        with monkeypatch.context() as mp:
            for name in ("_cosine_scan", "_pairwise_cosine"):

                def spy(*a, _real=getattr(similarity, name), _name=name, **kw):
                    out = _real(*a, **kw)
                    if out is not None:
                        ran.append(_name)
                    return out

                mp.setattr(similarity, name, spy)
            if plan == "expr":
                mp.setattr(similarity, "BROADCAST_SCORE_MAX_BYTES", 0)
            got[plan] = sorted(map(tuple, call().collect()), key=repr)
        assert ran == [ran_by], plan
    assert got["scan"] == got["expr"]
    return got["scan"]


def topk(emb, k=5, queries=None):
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        brute_force_topk,
    )

    return lambda: brute_force_topk(
        emb, "vec_id", "embedding", k=k, queries=queries
    )


def pairs(emb, threshold=0.4):
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _exact_cosine,
    )

    return lambda: _exact_cosine(emb, "vec_id", "embedding", threshold=threshold)


def check_ranked(rows, k, degenerate):
    """Each query's ranks are 1..min(k, rows); NULL cosine sits exactly
    on the pairs with a degenerate member, never NaN, and after every
    scored neighbour."""
    by_query: dict = {}
    for q, nb, cos, rnk in rows:
        assert cos is None or not math.isnan(cos)
        assert (cos is None) == (q in degenerate or nb in degenerate), (q, nb)
        by_query.setdefault(q, []).append((rnk, cos))
    for q, ranked in by_query.items():
        ranked.sort()
        assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
        assert len(ranked) <= k
        nulls = [c is None for _, c in ranked]
        assert nulls == sorted(nulls), (q, ranked)
    return by_query


def test_exact_degenerate_inputs(spark, monkeypatch):
    """300 random vectors on a coarse grid (rounded-cosine ties) plus
    NULL, NULL-element, short, long, NaN and zero vectors and a
    duplicate id: the scan returns the expression plan's rows for self
    top-k, for a workload with a longer-than-dim query, and for
    threshold pairs."""
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.integers(-3, 4, size=DIM)])
        for i in range(300)
    ]
    null_elem = [1.0] * DIM
    null_elem[3] = None
    nan_vec = [1.0] * DIM
    nan_vec[0] = NAN
    rows += [
        (300, None),
        (301, null_elem),
        (302, [1.0] * (DIM - 1)),
        (303, [1.0] * (DIM + 1)),
        (304, nan_vec),
        (305, [0.0] * DIM),
        (7, [float(x) for x in rng.normal(size=DIM)]),
    ]
    emb = spark.createDataFrame(rows, SCHEMA)
    degenerate = set(range(300, 306)) | {
        i for i, v in rows[:300] if not any(v)
    }

    got = both_plans(monkeypatch, topk(emb))
    by_query = check_ranked(got, 5, degenerate)
    assert set(by_query) == {i for i, _ in rows}
    assert all(len(r) == 5 for r in by_query.values())
    # id 7's two rows merge into one query, and neither is its neighbour
    assert not any(q == nb for q, nb, _, _ in got)

    workload = spark.createDataFrame(
        [r for r in rows if r[0] % 10 == 0 or r[0] >= 300]
        + [(1000, [1.0] * (DIM + 1)), (1001, [1.0] * DIM), (1002, None)],
        SCHEMA,
    )
    got = both_plans(monkeypatch, topk(emb, queries=workload))
    by_query = check_ranked(got, 5, degenerate | {1000, 1002})
    assert {1000, 1001, 1002} <= set(by_query)
    assert [c for _, c in by_query[1000]] == [None] * 5

    got = both_plans(monkeypatch, pairs(emb))
    assert got and all(
        a < b and c is not None and c >= 0.4 for a, b, c in got
    )
    assert not {a for a, _, _ in got} & degenerate
    assert not {b for _, b, _ in got} & degenerate


def test_exact_string_ids(spark, monkeypatch):
    """String ids keep their type, rank and exclude themselves by value
    on both plans."""
    emb = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]),
            ("b", None),
            ("c", [1.0, 2.0, 3.0]),
            ("d", [0.5, 0.5]),
            ("e", [0.2, 1.0]),
            ("a", [0.0, 1.0]),
        ],
        "vec_id string, embedding array<float>",
    )
    got = both_plans(monkeypatch, topk(emb, k=2))
    check_ranked(got, 2, {"b", "c"})
    assert [r for r in got if r[0] == "d"] == [
        ("d", "a", 0.707107, 2),
        ("d", "e", 0.83205, 1),
    ]
    # both "a" rows pair with "d"; neither pairs with the other
    assert both_plans(monkeypatch, pairs(emb)) == [
        ("a", "d", 0.707107),
        ("a", "d", 0.707107),
        ("a", "e", 0.980581),
        ("d", "e", 0.83205),
    ]


def test_exact_small_corpora(spark, monkeypatch):
    """Empty, one-row and n <= k corpora: no rows, no rows, and every
    neighbour with NULLs last."""
    empty = spark.createDataFrame([], SCHEMA)
    assert both_plans(monkeypatch, topk(empty), "_cosine_scan") == []
    assert both_plans(monkeypatch, pairs(empty), "_cosine_scan") == []
    one = spark.createDataFrame([(1, [1.0] * DIM)], SCHEMA)
    assert both_plans(monkeypatch, topk(one)) == []
    assert both_plans(monkeypatch, pairs(one)) == []
    few = spark.createDataFrame(
        [(1, [1.0] * DIM), (2, [0.0] * DIM), (3, [2.0] * DIM)], SCHEMA
    )
    assert both_plans(monkeypatch, topk(few)) == [
        (1, 2, None, 2),
        (1, 3, 1.0, 1),
        (2, 1, None, 1),
        (2, 3, None, 2),
        (3, 1, 1.0, 1),
        (3, 2, None, 2),
    ]
    assert both_plans(monkeypatch, pairs(few)) == [(1, 3, 1.0)]


def test_exact_nan_vector_scores_null(spark, monkeypatch):
    """A NaN vector scores NULL on both plans, for self and external
    queries, so it ranks last instead of first, and it is never a
    threshold pair."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 1.0]),
            (3, [NAN, 1.0]),
            (4, [0.0, 0.0]),
            (5, [2.0, 1.0]),
        ],
        SCHEMA,
    )
    want = [(0, 5, 0.894427, 1), (0, 2, 0.707107, 2)]
    got = both_plans(monkeypatch, topk(emb, k=2))
    assert sorted((r for r in got if r[0] == 0), key=lambda r: r[3]) == want
    assert [c for q, _, c, _ in got if q == 3] == [None, None]
    queries = emb.filter("vec_id = 0")
    assert sorted(
        both_plans(monkeypatch, topk(emb, k=2, queries=queries)),
        key=lambda r: r[3],
    ) == want
    assert both_plans(monkeypatch, pairs(emb)) == [
        (0, 2, 0.707107),
        (0, 5, 0.894427),
        (1, 2, 0.707107),
        (1, 5, 0.447214),
        (2, 5, 0.948683),
    ]


def test_exact_duplicate_ids_score_their_own_vectors(spark, monkeypatch):
    """Two rows with one id are two corpus rows, each scored with its
    own vector: query 3's best neighbour is id 1's second row."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (1, [1.0, 0.1]),
            (2, [1.0, 1.0]),
            (3, [-1.0, 0.2]),
        ],
        SCHEMA,
    )
    got = both_plans(monkeypatch, topk(emb, k=2))
    assert [r for r in got if r[0] == 3] == [
        (3, 1, 0.196116, 1),
        (3, 2, -0.5547, 2),
    ]
    for q in (0, 1, 2):
        nbs = [nb for qq, nb, _, _ in got if qq == q]
        assert len(nbs) == len(set(nbs)) == 2, (q, got)
