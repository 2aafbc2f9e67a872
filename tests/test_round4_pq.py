"""Round-4 PQ/IVF-PQ fixes (VERDICT r3 #2/#3 + ADVICE r3).

  - The sharded cogroup-grid ADC path past the broadcast cap returns
    IDENTICAL results to the broadcast kernel (forced by lowering the
    cap parameter — the refuse-don't-degrade ValueError is gone).
  - The chunked ADC tournament matches the one-shot full-matrix
    argsort bit-for-bit, including tie behavior, at any chunk size.
  - fit_pq_codebooks / pq_topk survive an empty corpus.
  - Recall-targeted auto-sizing: the all-defaults IVF and IVF-PQ
    paths hit the promised >= 0.9 recall@5 (the old cells/4 default
    measured ~0.66).
"""

from __future__ import annotations

import numpy as np

from udacity_capstone_data_engineering_spark.operators import pq as pqmod
from udacity_capstone_data_engineering_spark.operators.pq import (
    fit_pq_codebooks,
    ivfpq_topk,
    pq_topk,
    probe_fraction_for_recall,
)
from udacity_capstone_data_engineering_spark.operators.similarity import (
    brute_force_topk,
)


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, round(r.cosine, 9), r.rnk)
        for r in df.collect()
    )


def test_pq_sharded_path_matches_broadcast(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    want = _rows(pq_topk(emb, "vec_id", "embedding", dim=64, k=5))
    # 500 vectors x 16 B = 8 kB index; a 1 kB cap hash-splits the one
    # cell into byte-capped pieces, one per shard
    got = _rows(
        pq_topk(
            emb, "vec_id", "embedding", dim=64, k=5, max_broadcast_bytes=1024
        )
    )
    assert got == want


def test_ivfpq_sharded_path_matches_broadcast(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(dim=64, k=5, n_centroids=16, nprobe=12)
    want = _rows(ivfpq_topk(emb, "vec_id", "embedding", **kw))
    got = _rows(
        ivfpq_topk(
            emb, "vec_id", "embedding", max_broadcast_bytes=1024, **kw
        )
    )
    assert got == want


def test_ivfpq_subsharded_hot_cells_match_broadcast(spark, sf_dir):
    """ADVICE r4: a cap smaller than single cells forces the hot-cell
    hash-SPLIT (nsub > 1 for every populated cell at cap=64 B — cells
    at 500 vectors / 16 cells hold ~31 rows ≈ 500 B of codes); results
    must still equal the broadcast kernel bit-for-bit."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(dim=64, k=5, n_centroids=16, nprobe=12)
    want = _rows(ivfpq_topk(emb, "vec_id", "embedding", **kw))
    got = _rows(
        ivfpq_topk(emb, "vec_id", "embedding", max_broadcast_bytes=64, **kw)
    )
    assert got == want


def test_adc_chunked_tournament_matches_one_shot(monkeypatch):
    rng = np.random.default_rng(7)
    n, m, ksub, nq, take = 1000, 8, 16, 37, 50
    ids = np.sort(rng.choice(10_000, size=n, replace=False)).astype(np.int64)
    codes = rng.integers(0, ksub, size=(n, m)).astype(np.uint8)
    luts = [rng.normal(size=(nq, ksub)) for _ in range(m)]
    # force duplicate scores so the id tie rule is actually exercised
    for lut in luts:
        lut[:, ksub // 2 :] = lut[:, : ksub // 2]

    def one_shot():
        scores = np.zeros((nq, n))
        for s in range(m):
            scores += luts[s][:, codes[:, s]]
        top = np.argsort(-scores, axis=1, kind="stable")[:, :take]
        return ids[top], np.take_along_axis(scores, top, axis=1)

    want_i, want_s = one_shot()
    # flat PQ is one-cell IVF-PQ: a single zero centroid probed by
    # every query (nprobe=1) must yield the one-shot ids too
    x = rng.normal(size=(nq, m * 2))
    books = rng.normal(size=(m, ksub, 2))
    books[:, ksub // 2 :] = books[:, : ksub // 2]
    cell_luts = pqmod._query_luts(x, books)
    scores = np.zeros((nq, n))
    for s in range(m):
        scores += cell_luts[s][:, codes[:, s]]
    want_cell = ids[np.argsort(-scores, axis=1, kind="stable")[:, :take]]
    for chunk_elems in (10_000_000, 9_000, 1_000):
        monkeypatch.setattr(pqmod, "ADC_CHUNK_ELEMS", chunk_elems)
        got_i, got_s = pqmod._adc_top_block(luts, ids, codes, take)
        assert np.array_equal(got_i, want_i), chunk_elems
        assert np.array_equal(got_s, want_s), chunk_elems
        got_cell = pqmod._cell_major_scan(
            x, np.zeros((1, m * 2)), pqmod._adc_payload(books), [ids],
            [codes], 1, take,
        )
        assert np.array_equal(np.vstack(got_cell), want_cell), chunk_elems


def test_fit_pq_codebooks_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    books = fit_pq_codebooks(empty, "embedding", dim=64, m=8, ksub=256)
    assert books.shape == (8, 1, 8) and not books.any()
    assert pq_topk(empty, "vec_id", "embedding", dim=64, k=5).count() == 0


def test_probe_fraction_for_recall_curve():
    assert probe_fraction_for_recall(None) == 0.25
    assert probe_fraction_for_recall(0.5) == 0.25
    assert probe_fraction_for_recall(0.9) == 0.75
    assert probe_fraction_for_recall(0.99) == 0.875
    # monotone: a tighter target never probes fewer cells
    fracs = [probe_fraction_for_recall(t) for t in (0.5, 0.7, 0.85, 0.9, 0.99)]
    assert fracs == sorted(fracs)


def test_auto_knob_ivf_and_ivfpq_recall(spark, sf_dir):
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    for name, approx in (
        ("ivf_auto", ivf_topk(emb, "vec_id", "embedding", k=5)),
        ("ivfpq_auto", ivfpq_topk(emb, "vec_id", "embedding", dim=64, k=5)),
    ):
        a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.9, f"{name} recall {recall} below the 0.9 target"
