"""The ADC serves (pq_topk, ivfpq_topk and the standing index) on
degenerate input, in both shapes: the broadcast inverted file under the
byte cap and the cell-packed grid past it."""

from __future__ import annotations

import math

import numpy as np

SCHEMA = "vec_id long, embedding array<float>"
DIM = 16


def _serves(emb, path, cap):
    """Rows of the three ADC serves at byte cap ``cap`` (``None`` is the
    default cap), default knobs, k=5."""
    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        ann_topk_against_index,
    )
    from udacity_capstone_data_engineering_spark.operators.pq import (
        ivfpq_topk,
        pq_topk,
    )

    kw = dict(k=5, max_broadcast_bytes=cap)
    frames = {
        "pq": pq_topk(emb, "vec_id", "embedding", dim=DIM, **kw),
        "ivfpq": ivfpq_topk(emb, "vec_id", "embedding", dim=DIM, **kw),
        "standing": ann_topk_against_index(
            emb, "vec_id", "embedding", path, **kw
        ),
    }
    return {
        name: sorted(tuple(r) for r in df.collect())
        for name, df in frames.items()
    }


def _both_shapes(emb, path, cap):
    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        build_ann_index,
    )

    build_ann_index(emb, "vec_id", "embedding", DIM, path)
    return _serves(emb, path, None), _serves(emb, path, cap)


def test_pq_degenerate_inputs(spark, tmp_path):
    """1,000 random vectors plus NaN-element, zero and NULL ones: each
    serve returns the same rows in both shapes, every query with a
    direction gets k rows, NULL cosine sits exactly on the pairs with a
    degenerate member and ranks after every scored neighbor, and the
    NULL vector neither queries nor appears.  An empty and a one-row
    corpus return no rows in either shape; a corpus with no finite row
    pairs its rows with NULL cosine.  A NULL vector first in a
    one-partition scan and a ragged vector neither query nor appear."""
    rng = np.random.default_rng(13)
    rows = [
        (i, [float(x) for x in rng.normal(size=DIM)]) for i in range(1000)
    ]
    nan_vec = [1.0] * DIM
    nan_vec[0] = float("nan")
    rows += [(2000, nan_vec), (2001, [0.0] * DIM), (2002, None)]
    emb = spark.createDataFrame(rows, SCHEMA)

    # 1,003 rows × 16 code bytes, past a 4 KiB cap: the grid
    broadcast, grid = _both_shapes(emb, str(tmp_path / "main"), 4096)
    degenerate = {2000, 2001}
    for name, got in broadcast.items():
        assert got == grid[name], name
        by_query: dict[int, list] = {}
        for q, nb, cos, rnk in got:
            assert 2002 not in (q, nb), name
            assert cos is None or not math.isnan(cos), name
            assert (cos is None) == (q in degenerate or nb in degenerate), name
            by_query.setdefault(q, []).append((rnk, cos))
        assert set(range(1000)) <= set(by_query), name
        for q, ranked in by_query.items():
            ranked.sort()
            assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
            if q not in degenerate:
                assert len(ranked) == 5, (name, q)
            nulls = [c is None for _, c in ranked]
            # NULLs form a tail: once a NULL appears, no scored row follows
            assert nulls == sorted(nulls), (name, q, ranked)

    empty = spark.createDataFrame([], SCHEMA)
    broadcast, grid = _both_shapes(empty, str(tmp_path / "empty"), 1)
    assert all(not r for r in (*broadcast.values(), *grid.values()))
    one = spark.createDataFrame([(7, [1.0] * DIM)], SCHEMA)
    broadcast, grid = _both_shapes(one, str(tmp_path / "one"), 1)
    assert all(not r for r in (*broadcast.values(), *grid.values()))
    # no finite row to fit on: each row still serves, scored NULL
    nan_only = spark.createDataFrame([(1, nan_vec), (2, nan_vec)], SCHEMA)
    broadcast, grid = _both_shapes(nan_only, str(tmp_path / "nan"), 1)
    for name, got in broadcast.items():
        assert got == grid[name] == [(1, 2, None, 1), (2, 1, None, 1)], name
    # a NULL vector first in a one-partition scan, and a ragged one (3
    # elements beside DIM-d rows, a NULL-element vector by length):
    # neither queries nor appears
    clean = rows[1:200]
    odd = [(2002, None)] + clean + [(2004, [1.0, 2.0, 3.0])]
    emb = spark.createDataFrame(odd, SCHEMA).coalesce(1)
    broadcast, grid = _both_shapes(emb, str(tmp_path / "odd"), 1024)
    for name, got in broadcast.items():
        assert got == grid[name], name
        assert len(got) == 5 * len(clean), name
        assert not {2002, 2004} & {i for r in got for i in r[:2]}, name


def test_adc_serves_reject_workloads_of_another_dim(spark, tmp_path):
    """A corpus or query workload whose dim is not the index's raises
    instead of reading as ragged vectors and returning no rows."""
    import pytest

    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        ann_topk_against_index,
        build_ann_index,
    )
    from udacity_capstone_data_engineering_spark.operators.pq import (
        ivfpq_topk,
        pq_topk,
    )

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(50)],
        SCHEMA,
    )
    short = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], SCHEMA)
    path = str(tmp_path / "idx")
    build_ann_index(emb, "vec_id", "embedding", DIM, path)
    calls = {
        "pq corpus": lambda: pq_topk(short, "vec_id", "embedding", dim=DIM),
        "pq queries": lambda: pq_topk(
            emb, "vec_id", "embedding", dim=DIM, queries=short
        ),
        "ivfpq corpus": lambda: ivfpq_topk(
            short, "vec_id", "embedding", dim=DIM
        ),
        "ivfpq queries": lambda: ivfpq_topk(
            emb, "vec_id", "embedding", dim=DIM, queries=short
        ),
        "build": lambda: build_ann_index(
            short, "vec_id", "embedding", DIM, str(tmp_path / "short")
        ),
        "standing corpus": lambda: ann_topk_against_index(
            short, "vec_id", "embedding", path
        ),
        "standing queries": lambda: ann_topk_against_index(
            emb, "vec_id", "embedding", path, queries=short
        ),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match="dim 3"):
            call()
