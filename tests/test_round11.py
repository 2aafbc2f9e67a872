"""Round-11 fixes: bounded cell-major ADC accumulation (ADVICE r10),
the sharded LSH scan kernel past the broadcast byte cap (VERDICT r10
#1), the measured PQ/IVF-PQ dispatch crossover (VERDICT r10 #2), and
the ann_topk(n=...) / index-completeness / staleness-fingerprint /
append-validation hardening items."""

from __future__ import annotations

import numpy as np
import pytest


def _toy_inverted_file(seed=7, dim=8, m=2, ksub=4, ncells=5, n=200):
    rng = np.random.default_rng(seed)
    books = rng.normal(size=(m, ksub, dim // m))
    centers = rng.normal(size=(ncells, dim))
    ids = np.arange(n, dtype=np.int64)
    cell_ids = [np.sort(ids[ids % ncells == c]) for c in range(ncells)]
    cell_codes = [
        rng.integers(0, ksub, size=(len(ci), m)).astype(np.uint8)
        for ci in cell_ids
    ]
    queries = rng.normal(size=(20, dim))
    return queries, centers, books, cell_ids, cell_codes


def test_cell_major_compaction_lossless():
    """compact_elems=1 (compaction after every chunk) must return the
    EXACT same per-query candidate id sequences as an unbounded
    accumulation — the compaction key is the final merge key, so
    dropping beaten partials mid-scan is lossless (ADVICE r10)."""
    from udacity_capstone_data_engineering_spark.operators.pq import (
        _adc_payload,
        _cell_major_scan,
    )

    q, centers, books, cell_ids, cell_codes = _toy_inverted_file()
    base = _cell_major_scan(
        q, centers, _adc_payload(books), cell_ids, cell_codes, nprobe=3,
        rerank=7, compact_elems=10**12,
    )
    tiny = _cell_major_scan(
        q, centers, _adc_payload(books), cell_ids, cell_codes, nprobe=3,
        rerank=7, compact_elems=1,
    )
    assert len(base) == len(tiny) == len(q)
    for b, t in zip(base, tiny):
        assert np.array_equal(b, t)


def test_cell_major_compaction_bounds_accumulation():
    """The compacted floor is nq·rerank: with compact_elems just above
    it, no intermediate partial list may exceed floor + one chunk's
    emission. Asserted by monkeypatching the compactor to record
    input sizes."""
    from udacity_capstone_data_engineering_spark.operators import pq

    q, centers, books, cell_ids, cell_codes = _toy_inverted_file()
    rerank = 7
    floor = len(q) * rerank
    seen = []
    real = pq._compact_candidate_partials

    def spy(qpos, cids, cscores, nq, rr):
        seen.append(len(qpos))
        return real(qpos, cids, cscores, nq, rr)

    pq._compact_candidate_partials, orig = spy, real
    try:
        pq._cell_major_scan(
            q, centers, pq._adc_payload(books), cell_ids, cell_codes,
            nprobe=3, rerank=rerank, compact_elems=floor,
        )
    finally:
        pq._compact_candidate_partials = orig
    assert seen, "compaction never ran"
    # worst pre-compaction size: the floor plus one cell-chunk emission
    # (nq queries × rerank each)
    assert max(seen) <= floor + floor


def test_compact_candidate_partials_matches_bruteforce():
    from udacity_capstone_data_engineering_spark.operators.pq import (
        _compact_candidate_partials,
    )

    rng = np.random.default_rng(3)
    nq, rerank = 6, 4
    qpos = rng.integers(0, nq, size=300).astype(np.int64)
    cids = rng.permutation(300).astype(np.int64)
    scores = np.round(rng.normal(size=300), 1)  # force score ties
    cq, ci, cs = _compact_candidate_partials(qpos, cids, scores, nq, rerank)
    for qi in range(nq):
        mask = qpos == qi
        rows = sorted(
            zip(-scores[mask], cids[mask])
        )[:rerank]
        got = ci[cq == qi]
        assert np.array_equal(got, np.array([r[1] for r in rows]))
        assert np.array_equal(
            cs[cq == qi], np.array([-r[0] for r in rows])
        )


def _lsh_rows(sim, emb, **kw):
    return sorted(
        tuple(r)
        for r in sim.lsh_topk(emb, "vec_id", "embedding", dim=64, k=5, **kw)
        .collect()
    )


def test_lsh_sharded_regime_matches_kernel(spark, sf_dir):
    """VERDICT r10 #1: past the broadcast byte cap lsh_topk must route
    to the sharded grid and return EXACTLY the broadcast scan kernel's
    rows (cosines included), at three forced caps whose shard counts
    differ: the parallelism floor, a few shards past it, and about
    twice it."""
    from udacity_capstone_data_engineering_spark.operators import (
        similarity as sim,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    par = spark.sparkContext.defaultParallelism
    total = n * 64 * 8
    floor = sim._grid_shards(n, par)[1]
    caps = [-(-total // t) for t in (2, floor + 5, 2 * floor + 9)]
    shards = [
        sim._grid_shards(n, par, total, cap, at_least=2)[1] for cap in caps
    ]
    assert len(set(shards)) == 3, shards
    kern = _lsh_rows(sim, emb)
    saved_cap = sim.BROADCAST_SCORE_MAX_BYTES
    try:
        for cap in caps:
            sim.BROADCAST_SCORE_MAX_BYTES = cap  # force the sharded grid
            assert _lsh_rows(sim, emb) == kern, (cap, shards)
    finally:
        sim.BROADCAST_SCORE_MAX_BYTES = saved_cap


def test_lsh_sharded_regime_matches_kernel_with_workload(spark, sf_dir):
    """Sharded grid with a serving workload (queries ⊂ corpus) must
    match the broadcast kernel's rows for the same workload."""
    from udacity_capstone_data_engineering_spark.operators import (
        similarity as sim,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 7 == 0)
    kern_rows = _lsh_rows(sim, emb, queries=q)
    saved_cap = sim.BROADCAST_SCORE_MAX_BYTES
    try:
        sim.BROADCAST_SCORE_MAX_BYTES = 16 * 1024  # force sharded grid
        shard_rows = _lsh_rows(sim, emb, queries=q)
    finally:
        sim.BROADCAST_SCORE_MAX_BYTES = saved_cap
    assert shard_rows == kern_rows


class TestDispatchCrossover:
    """VERDICT r10 #2: the dispatch law knows the measured PQ/IVF-PQ
    crossover, and #6: auto mode accepts a precomputed corpus count."""

    def test_pq_crossover_pure(self):
        from udacity_capstone_data_engineering_spark.operators.ann import (
            PQ_FLAT_MIN_PROBE_FRACTION,
            _lsh_kernel_max_n,
            choose_ann_tier,
        )
        from udacity_capstone_data_engineering_spark.operators.pq import (
            probe_fraction_for_recall,
        )

        from udacity_capstone_data_engineering_spark.operators.ann import (
            LSH_DISPATCH_MAX_N,
        )

        past = LSH_DISPATCH_MAX_N + 1
        # past the LSH table cap the dispatch must agree with the
        # fraction law it encodes
        for t in (0.5, 0.66, 0.8, 0.85, 0.9, 0.95, 0.97, None):
            tier = choose_ann_tier(past, t, dim=64)
            frac = probe_fraction_for_recall(0.9 if t is None else t)
            assert tier == (
                "pq" if frac >= PQ_FLAT_MIN_PROBE_FRACTION else "ivfpq"
            )
        # past the raw-vector byte cap but under the table cap, a
        # target above the ladder's 0.97 promise goes to the coded
        # tiers (IVF needs raw vectors broadcast)
        assert choose_ann_tier(_lsh_kernel_max_n(64) + 1, 0.99) == "pq"

    def test_auto_equals_forced_pq(self, spark, sf_dir):
        """auto at a past-the-cap (precomputed) count and default 0.9
        target must return exactly what mode='pq' returns."""
        from udacity_capstone_data_engineering_spark.operators.ann import (
            ann_topk,
        )
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        auto = sorted(
            tuple(r)
            for r in ann_topk(
                emb, "vec_id", "embedding", dim=64, k=5,
                target_recall=0.9, n=10_000_000,
            ).collect()
        )
        forced = sorted(
            tuple(r)
            for r in ann_topk(
                emb, "vec_id", "embedding", dim=64, k=5,
                target_recall=0.9, mode="pq",
            ).collect()
        )
        assert auto == forced

    def test_ann_auto_dispatch_no_count_scan(self, spark, sf_dir):
        """With n= supplied, auto dispatch must not run a count() job
        (VERDICT r10 #6 — a full scan per dispatch call at 100 TB)."""
        from pyspark.sql import DataFrame

        from udacity_capstone_data_engineering_spark.operators import ann, pq
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        sentinel = object()
        saved_topk, saved_count = pq.pq_topk, DataFrame.count

        def boom(self):
            raise AssertionError("dispatch ran a count() scan")

        pq.pq_topk = lambda *a, **kw: sentinel
        DataFrame.count = boom
        try:
            out = ann.ann_topk(
                emb, "vec_id", "embedding", dim=64, k=5,
                target_recall=0.9, n=10_000_000,
            )
        finally:
            pq.pq_topk = saved_topk
            DataFrame.count = saved_count
        assert out is sentinel

    def test_index_complete_resolves_via_hadoop_fs(self, spark, tmp_path):
        """ADVICE r10: artifact completeness goes through the Hadoop
        FileSystem API (so hdfs://s3a:// paths work); a local sentinel
        must be seen both bare and with an explicit file: scheme."""
        from udacity_capstone_data_engineering_spark.operators.ann import (
            _index_complete,
        )

        idx = tmp_path / "idx"
        (idx / "codes").mkdir(parents=True)
        assert not _index_complete(spark, str(idx))
        (idx / "meta").mkdir()
        assert _index_complete(spark, str(idx))
        assert _index_complete(spark, "file://" + str(idx))


class TestStandingIndexHardening:
    """ADVICE r10: append validation (dim + duplicate ids) and the
    id-sum staleness fingerprint."""

    def _emb(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            load_table,
        )

        return load_table(spark, sf_dir, "embeddings")

    def _split(self, emb):
        from pyspark.sql import functions as F

        return (
            emb.filter(F.col("vec_id") % 10 != 0),
            emb.filter(F.col("vec_id") % 10 == 0),
        )

    def test_append_wrong_dim_raises(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            append_ann_index,
            build_ann_index,
        )

        emb = self._emb(spark, sf_dir)
        standing, batch = self._split(emb)
        path = str(tmp_path / "idx")
        build_ann_index(standing, "vec_id", "embedding", 64, path, m=8)
        short = batch.select(
            "vec_id", F.slice("embedding", 1, 32).alias("embedding")
        )
        with pytest.raises(ValueError, match="dim 32"):
            append_ann_index(short, "vec_id", "embedding", path)

    def test_append_duplicate_ids_raise(self, spark, sf_dir, tmp_path):
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            append_ann_index,
            build_ann_index,
        )

        emb = self._emb(spark, sf_dir)
        standing, batch = self._split(emb)
        path = str(tmp_path / "idx")
        build_ann_index(standing, "vec_id", "embedding", 64, path, m=8)
        receipt = append_ann_index(batch, "vec_id", "embedding", path)
        assert receipt["n_new"] == receipt["n_old"] + receipt["n_batch"]
        # the SAME batch again: a double append must now refuse
        with pytest.raises(ValueError, match="already present"):
            append_ann_index(batch, "vec_id", "embedding", path)

    def test_staleness_fingerprint_catches_equal_count_drift(
        self, spark, sf_dir, tmp_path
    ):
        from pyspark.sql import functions as F

        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            ann_topk_against_index,
            build_ann_index,
        )

        emb = self._emb(spark, sf_dir)
        path = str(tmp_path / "idx")
        build_ann_index(emb, "vec_id", "embedding", 64, path, m=8)
        # same COUNT, different membership: shift every id by 1
        drifted = emb.withColumn("vec_id", F.col("vec_id") + 1)
        with pytest.raises(ValueError, match="stale"):
            ann_topk_against_index(
                drifted, "vec_id", "embedding", path, k=3,
                staleness="error",
            ).collect()

    def test_legacy_meta_without_id_sum_still_serves(
        self, spark, sf_dir, tmp_path
    ):
        """Pre-r11 artifacts (no id_sum column) must keep serving: the
        guard falls back to the n-only check."""
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            ann_topk_against_index,
            build_ann_index,
        )

        emb = self._emb(spark, sf_dir)
        path = str(tmp_path / "idx")
        build_ann_index(emb, "vec_id", "embedding", 64, path, m=8)
        legacy = [
            tuple(r)
            for r in spark.read.parquet(f"{path}/meta")
            .drop("id_sum")
            .collect()
        ]
        spark.createDataFrame(
            legacy,
            "n long, dim int, m int, ksub int, n_centroids int, seed int, "
            "fit_sample int",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
        out = ann_topk_against_index(
            emb, "vec_id", "embedding", path, k=3, staleness="error"
        )
        assert out.count() > 0


def test_ann_truth_artifact_reused(spark, sf_dir):
    """VERDICT r10 #3: after the truth artifact exists, the recall
    gates must serve from it — no brute-force recomputation. Pinned by
    poisoning brute_force_topk after the build."""
    from udacity_capstone_data_engineering_spark.operators import similarity
    from udacity_capstone_data_engineering_spark.queries.retrieval import (
        build_ann_exact_truth,
        load_ann_exact_truth,
    )

    build_ann_exact_truth(spark, sf_dir)
    saved = similarity.brute_force_topk

    def boom(*a, **kw):
        raise AssertionError("truth recomputed despite existing artifact")

    similarity.brute_force_topk = boom
    try:
        exact64, exact16 = load_ann_exact_truth(spark, sf_dir)
        n64, n16 = exact64.count(), exact16.count()
    finally:
        similarity.brute_force_topk = saved
    assert n64 > 0 and n16 > 0 and n64 == n16


def test_first_50_rotation_covers_unsampled_rows():
    """VERDICT r10 #5: the driver samples queries()'s first 50 rows;
    after the rotation they must all be oracle-paired AND absent from
    every r01-r10 official sample."""
    import __spark_entry__ as entry
    from udacity_capstone_data_engineering_spark.queries import (
        _OFFICIALLY_SAMPLED,
    )

    qs, os_ = list(entry.queries()), entry.oracle_sql()
    first50 = qs[:50]
    assert all(n in os_ for n in first50)
    assert not set(first50) & _OFFICIALLY_SAMPLED


def test_pack_cells_to_shards_caps_and_splits():
    """r11: packed shards must respect the byte cap (hot cells split
    first), cover every (cell, sub) piece exactly once, and be
    deterministic."""
    from udacity_capstone_data_engineering_spark.operators.pq import (
        _pack_cells_to_shards,
    )

    counts = {0: 100, 1: 3, 2: 50, 3: 900, 4: 1}
    row_bytes, cap = 16, 1024  # 64 rows per cap
    rows, n_shards, nsub = _pack_cells_to_shards(counts, row_bytes, cap)
    assert rows == _pack_cells_to_shards(counts, row_bytes, cap)[0]
    # hot cells split into ceil(bytes/cap) pieces
    assert nsub[3] == -(-900 * 16 // 1024) and nsub[1] == 1
    assert {(c, j) for c, j, _s in rows} == {
        (c, j) for c in counts for j in range(nsub[c])
    }
    # per-shard packed bytes stay <= cap (per-piece estimate)
    loads: dict[int, int] = {}
    for c, j, s in rows:
        per_piece = -(-counts[c] // nsub[c]) * row_bytes
        loads[s] = loads.get(s, 0) + per_piece
    assert all(v <= cap for v in loads.values())
    assert n_shards == len(loads)
