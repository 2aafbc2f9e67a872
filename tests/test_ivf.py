"""``ivf_topk`` on its three paths — the pair join, the broadcast scan
kernel and the cell-packed grid — including degenerate input."""

from __future__ import annotations

import math

import numpy as np

IVF_PATHS = ("pair_join", "broadcast", "grid")

SCHEMA = "vec_id long, embedding array<float>"
DIM = 16


def ivf_path(monkeypatch, path, grid_cap=64 * 1024):
    """Force one of ``ivf_topk``'s three paths; returns the keyword
    arguments the call needs and a dict counting which scan shape of
    the shared cell serve ran.  The kernel paths lower the pair-join
    volume cutoff to -1, under every estimate (the 500-vector fixture
    estimates ~190k pairs, under the shipped cutoff; an empty corpus
    estimates 0); the grid also takes ``grid_cap`` as its byte cap,
    which must sit under the corpus' n·(8 + 8·dim) bytes of unit
    vectors — the default is a quarter of the 500 × 64-d fixture's."""
    from udacity_capstone_data_engineering_spark.operators import ivf, pq

    calls = {"broadcast": 0, "grid": 0}
    for shape, name in (
        ("broadcast", "_cell_candidates_udf"),
        ("grid", "_sharded_cell_candidates"),
    ):
        real = getattr(pq, name)

        def spy(*a, _real=real, _shape=shape, **kw):
            calls[_shape] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(pq, name, spy)
    if path != "pair_join":
        monkeypatch.setattr(ivf, "_PAIR_JOIN_MAX_PAIRS", -1)
    kw = {"max_broadcast_bytes": grid_cap} if path == "grid" else {}
    return kw, calls


def three_paths(monkeypatch, emb, grid_cap=64 * 1024, grid_shape="grid"):
    """Rows of ``ivf_topk`` (default knobs, k=5) on each path, after
    checking that each kernel call took the scan shape it names (the
    grid path's is ``grid_shape``)."""
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk

    got = {}
    for path in IVF_PATHS:
        with monkeypatch.context() as mp:
            kw, calls = ivf_path(mp, path, grid_cap)
            got[path] = sorted(
                tuple(r)
                for r in ivf_topk(emb, "vec_id", "embedding", k=5, **kw)
                .collect()
            )
        shape = {"broadcast": "broadcast", "grid": grid_shape}.get(path)
        assert calls == {s: int(s == shape) for s in calls}, path
    return got


def test_ivf_degenerate_inputs(spark, monkeypatch):
    """1,000 random vectors plus NaN-element, zero, NULL and
    NULL-element ones: the three paths return the same rows, every
    query with a direction gets k rows, NULL cosine sits exactly on the
    pairs with a degenerate member and ranks after every scored
    neighbor, and the NULL and NULL-element vectors neither query nor
    appear.  An empty and a one-row corpus return no rows on any path,
    nor does one row beside a NULL-element one; a corpus with no finite
    row pairs its rows with NULL cosine.  A NULL vector first in a
    one-partition scan and a ragged vector neither query nor appear,
    also when ragged vectors come first in the fit sample."""
    rng = np.random.default_rng(13)
    rows = [
        (i, [float(x) for x in rng.normal(size=DIM)]) for i in range(1000)
    ]
    nan_vec = [1.0] * DIM
    nan_vec[0] = float("nan")
    null_elem = [1.0] * DIM
    null_elem[0] = None
    rows += [
        (2000, nan_vec), (2001, [0.0] * DIM), (2002, None), (2003, null_elem)
    ]
    emb = spark.createDataFrame(rows, SCHEMA)

    # 1,001 unit vectors × (8 + 8·16) bytes, past a 4 KiB cap: the grid,
    # with the ~32-row cells hash-split across shards
    got = three_paths(monkeypatch, emb, 4096)
    assert got["broadcast"] == got["pair_join"]
    assert got["grid"] == got["pair_join"]
    degenerate = {2000, 2001}
    by_query: dict[int, list] = {}
    for q, nb, cos, rnk in got["pair_join"]:
        assert not {2002, 2003} & {q, nb}
        assert cos is None or not math.isnan(cos)
        assert (cos is None) == (q in degenerate or nb in degenerate)
        by_query.setdefault(q, []).append((rnk, cos))
    assert set(range(1000)) | {2000} == set(by_query)
    for q, ranked in by_query.items():
        ranked.sort()
        assert [r for r, _ in ranked] == list(range(1, 6)), q
        nulls = [c is None for _, c in ranked]
        # NULLs form a tail: once a NULL appears, no scored row follows
        assert nulls == sorted(nulls), (q, ranked)

    empty = spark.createDataFrame([], SCHEMA)
    # no bytes are past any cap: the grid path scans in broadcast shape
    assert not any(
        three_paths(monkeypatch, empty, 1, grid_shape="broadcast").values()
    )
    one = spark.createDataFrame([(7, [1.0] * DIM)], SCHEMA)
    assert not any(three_paths(monkeypatch, one, 1).values())
    # a NULL element is a NULL vector, not a NaN one: no neighbor here
    one_more = spark.createDataFrame(
        [(7, [1.0] * DIM), (8, null_elem)], SCHEMA
    )
    assert not any(three_paths(monkeypatch, one_more, 1).values())
    # no finite row to fit on: each row still serves, scored NULL
    nan_only = spark.createDataFrame([(1, nan_vec), (2, nan_vec)], SCHEMA)
    for path, got in three_paths(monkeypatch, nan_only, 1).items():
        assert got == [(1, 2, None, 1), (2, 1, None, 1)], path
    # a NULL vector first in a one-partition scan, and a ragged one (3
    # elements beside DIM-d rows, a NULL-element vector by length):
    # neither queries nor appears, with or without the JL projection
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk

    clean = rows[1:200]
    odd = [(2002, None)] + clean + [(2004, [1.0, 2.0, 3.0])]
    emb = spark.createDataFrame(odd, SCHEMA).coalesce(1)
    runs = three_paths(monkeypatch, emb, 4096)
    runs["jl"] = ivf_topk(
        emb, "vec_id", "embedding", k=5, project_dims=4
    ).collect()
    for path, got in runs.items():
        assert len(got) == 5 * len(clean), path
        assert not {2002, 2004} & {i for r in got for i in r[:2]}, path
    # ragged vectors first in a fraction sample: the fit takes the
    # corpus dim from the first row of the scan, not of the sample
    ragged = [(3000 + i, [1.0, 2.0, 3.0]) for i in range(100)]
    emb = spark.createDataFrame(
        rows[:1] + ragged + clean, SCHEMA
    ).coalesce(1)
    got = ivf_topk(emb, "vec_id", "embedding", k=5, fit_sample=30).collect()
    assert len(got) == 5 * (1 + len(clean))
    assert all(i < 3000 for r in got for i in r[:2])


def test_ivf_rejects_queries_of_another_dim(spark):
    """A whole workload of another dim raises instead of reading as
    ragged vectors and returning no rows."""
    import pytest

    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(50)],
        SCHEMA,
    )
    short = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], SCHEMA)
    with pytest.raises(ValueError, match="dim 3"):
        ivf_topk(emb, "vec_id", "embedding", k=5, queries=short)


def test_ivf_scan_past_rerank_cap(spark, monkeypatch):
    """A broadcast cap above the rerank's (``BROADCAST_SCORE_MAX_BYTES``)
    keeps the scan in broadcast shape while the rerank joins: the scan
    then collects the ``(id, cell, uv)`` relation itself, and the rows
    are the pair join's."""
    from udacity_capstone_data_engineering_spark.operators import similarity
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(300)],
        SCHEMA,
    )
    monkeypatch.setattr(similarity, "BROADCAST_SCORE_MAX_BYTES", 1024)
    got = {}
    for path in ("pair_join", "broadcast"):
        with monkeypatch.context() as mp:
            _, calls = ivf_path(mp, path)
            got[path] = sorted(
                tuple(r)
                for r in ivf_topk(
                    emb, "vec_id", "embedding", k=5,
                    max_broadcast_bytes=1 << 30,
                ).collect()
            )
        assert calls == {"broadcast": int(path == "broadcast"), "grid": 0}
    assert len(got["pair_join"]) == 300 * 5
    assert got["broadcast"] == got["pair_join"]
