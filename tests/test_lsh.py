"""lsh_topk on degenerate input, and the grid shard-count law shared by
the LSH, PQ and IVF-PQ grid joins."""

from __future__ import annotations

import math

import numpy as np

SCHEMA = "vec_id long, embedding array<float>"
DIM = 8


def _rows_both_shapes(sim, emb, k, cap, monkeypatch):
    """lsh_topk rows under the broadcast kernel and under the forced
    byte ``cap`` (the sharded grid when the corpus outgrows it), plus
    the corpus size each call auto-sized its knobs from."""
    seen = []
    auto = sim.auto_lsh_tables

    def spy(n):
        seen.append(n)
        return auto(n)

    monkeypatch.setattr(sim, "auto_lsh_tables", spy)
    out = []
    for c in (sim.BROADCAST_SCORE_MAX_BYTES, cap):
        monkeypatch.setattr(sim, "BROADCAST_SCORE_MAX_BYTES", c)
        out.append(
            sorted(
                tuple(r)
                for r in sim.lsh_topk(emb, "vec_id", "embedding", dim=DIM, k=k)
                .collect()
            )
        )
    return out, seen


def test_lsh_degenerate_inputs(spark, monkeypatch):
    """NULL, NaN-element and zero vectors next to 60 random ones, with
    k past the corpus size: both shapes return the same rows, no
    cosine is NaN, degenerate rows score NULL and rank after every
    scored neighbor, the NULL vector neither queries nor appears, and
    the knobs are sized from the 60 vectors with a direction.  A NULL
    vector first in a one-partition scan and a ragged vector do not
    break either shape or the JL projection."""
    from udacity_capstone_data_engineering_spark.operators import (
        similarity as sim,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(60)]
    nan_vec = [0.5] * DIM
    nan_vec[3] = float("nan")
    rows += [(100, nan_vec), (101, [0.0] * DIM), (102, None)]
    emb = spark.createDataFrame(rows, SCHEMA)

    (kern, grid), seen = _rows_both_shapes(
        sim, emb, 70, 8 * DIM * 10, monkeypatch
    )
    assert seen == [60, 60]
    assert kern == grid
    assert kern
    degenerate = {100, 101}
    by_query: dict[int, list] = {}
    for q, nb, cos, rnk in kern:
        assert 102 not in (q, nb)
        assert cos is None or not math.isnan(cos)
        assert (cos is None) == (q in degenerate or nb in degenerate)
        by_query.setdefault(q, []).append((rnk, cos))
    for q, ranked in by_query.items():
        ranked.sort()
        assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
        nulls = [c is None for _, c in ranked]
        # NULLs form a tail: once a NULL appears, no scored row follows
        assert nulls == sorted(nulls), (q, ranked)

    # A NULL vector first in a one-partition scan neither queries nor
    # appears. A ragged vector (3 elements beside DIM-d rows) reads as a
    # NULL-element one, which LSH keys as NaN: it scores NULL. With the
    # JL projection either one scores NULL.
    clean = [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(200)]
    odd = [(300, None)] + clean + [(301, [1.0, 2.0, 3.0])]
    emb = spark.createDataFrame(odd, SCHEMA).coalesce(1)
    (kern, grid), _ = _rows_both_shapes(
        sim, emb, 5, 8 * DIM * 20, monkeypatch
    )
    assert kern == grid
    assert 300 not in {i for r in kern for i in r[:2]}
    jl = sim.lsh_topk(
        emb, "vec_id", "embedding", dim=DIM, k=5, project_dims=4
    ).collect()
    for got in (kern, jl):
        assert len({r[0] for r in got}) >= len(clean)
        for q, nb, cos, _ in got:
            assert (cos is None) == bool({300, 301} & {q, nb}), (q, nb)


def test_lsh_empty_and_single_row_corpus(spark, monkeypatch):
    """An empty corpus and a one-row corpus (the grid, at a cap under
    one row) return no rows in either shape: the only candidate of the
    single row is itself."""
    from udacity_capstone_data_engineering_spark.operators import (
        similarity as sim,
    )

    empty = spark.createDataFrame([], SCHEMA)
    (kern, grid), seen = _rows_both_shapes(sim, empty, 3, 1, monkeypatch)
    assert kern == grid == [] and seen == [0, 0]
    one = spark.createDataFrame([(7, [1.0] * DIM)], SCHEMA)
    (kern, grid), seen = _rows_both_shapes(sim, one, 3, 1, monkeypatch)
    assert kern == grid == [] and seen == [1, 1]


def test_grid_shards_law_unchanged():
    """``_grid_shards`` gives the shard counts the three grid joins
    computed inline before it existed."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _grid_shards,
    )

    for n_q in (1, 600, 4096, 4097, 50_000, 2_000_000):
        for par in (1, 4, 8, 32):
            blocks = max(1, -(-n_q // 4096))
            floor = min(-(-2 * par // blocks), 4 * par)
            # IVF-PQ: the parallelism floor that shrinks its packing cap
            assert _grid_shards(n_q, par) == (blocks, floor)
            for n_bytes, cap in (
                (0, 1),
                (500 * 512, 16 * 1024),
                (2_000_000 * 512, 256 << 20),
                (10_000_000 * 16, 256 << 20),
                (10**12, 256 << 20),
            ):
                # LSH and PQ: max(2, byte shards, parallelism floor)
                assert _grid_shards(n_q, par, n_bytes, cap, at_least=2) == (
                    blocks,
                    max(2, -(-n_bytes // cap), floor),
                )
