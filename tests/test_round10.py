"""Round 10: ADVICE r9 fixes (broadcast-key payload digests, meta-last
completion sentinel, artifact-path digest, row-group-aware fan-out) and
VERDICT r9 items (standing-index incremental append + staleness guard,
unified ANN dispatch facade, load-aware bench)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.sources.catalog import load_table


def _clear_kernel_cache():
    from udacity_capstone_data_engineering_spark.operators import similarity

    for bc in similarity._KERNEL_BC.values():
        try:
            bc.unpersist(blocking=False)
        except Exception:
            pass
    similarity._KERNEL_BC.clear()


class TestBroadcastKeyDigests:
    """ADVICE r9 (medium): the kernel-broadcast LRU keys must digest
    every payload-determining input. Pre-fix, two ivfpq calls with the
    same corpus/seed but different ksub collided (identical centers and
    cell ids) and the second call served the FIRST call's stale codes
    against the new LUTs."""

    def test_ivfpq_ksub_change_not_stale(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.pq import (
            ivfpq_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        kw = dict(dim=64, k=5, n_centroids=16, nprobe=12)
        _clear_kernel_cache()
        ivfpq_topk(emb, "vec_id", "embedding", ksub=16, **kw).collect()
        # pre-fix this reused the ksub=16 codes under the colliding key
        after = ivfpq_topk(
            emb, "vec_id", "embedding", ksub=256, **kw
        ).collect()
        _clear_kernel_cache()
        fresh = ivfpq_topk(
            emb, "vec_id", "embedding", ksub=256, **kw
        ).collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, fresh))

    def test_ivfpq_m_change_not_index_error(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.pq import (
            ivfpq_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        kw = dict(dim=64, k=5, n_centroids=16, nprobe=12)
        _clear_kernel_cache()
        ivfpq_topk(emb, "vec_id", "embedding", m=8, **kw).collect()
        # pre-fix: stale m=8 codes indexed into m=4 LUTs -> IndexError
        after = ivfpq_topk(emb, "vec_id", "embedding", m=4, **kw).collect()
        _clear_kernel_cache()
        fresh = ivfpq_topk(emb, "vec_id", "embedding", m=4, **kw).collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, fresh))

    def test_lsh_plane_change_not_stale(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            lsh_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        kw = dict(dim=64, k=5, tables=8, multiprobe=2)
        _clear_kernel_cache()
        lsh_topk(emb, "vec_id", "embedding", planes=6, **kw).collect()
        # pre-fix: same corpus + tables + probes with a different plane
        # count reused the stale bucket index (old hash family) and
        # queries matched almost nothing
        after = lsh_topk(emb, "vec_id", "embedding", planes=10, **kw).collect()
        _clear_kernel_cache()
        fresh = lsh_topk(emb, "vec_id", "embedding", planes=10, **kw).collect()
        assert sorted(map(tuple, after)) == sorted(map(tuple, fresh))


class TestMetaLastSentinel:
    """ADVICE r9: `meta` must be written LAST so the build-if-absent
    serve gates (which key on meta existence) never accept a half
    artifact from an interrupted build."""

    def _interrupting(self, monkeypatch, fail_suffix):
        import pyspark.sql.readwriter as rw

        orig = rw.DataFrameWriter.parquet

        def boom(self, path, *a, **kw):
            if path.endswith(fail_suffix):
                raise RuntimeError("interrupted build")
            return orig(self, path, *a, **kw)

        monkeypatch.setattr(rw.DataFrameWriter, "parquet", boom)

    def test_ann_build_interrupted_leaves_no_meta(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            build_ann_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        path = str(tmp_path / "annidx")
        self._interrupting(monkeypatch, "/codebooks")
        with pytest.raises(RuntimeError, match="interrupted"):
            build_ann_index(emb, "vec_id", "embedding", 64, path)
        assert not os.path.exists(os.path.join(path, "meta"))

    def test_semantic_build_interrupted_leaves_no_meta(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        from udacity_capstone_data_engineering_spark.operators.semdedup import (
            build_semantic_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        path = str(tmp_path / "semidx")
        self._interrupting(monkeypatch, "/representatives")
        with pytest.raises(RuntimeError, match="interrupted"):
            build_semantic_index(emb, "vec_id", "embedding", path, k=4)
        assert not os.path.exists(os.path.join(path, "meta"))


class TestAnnIndexAppend:
    """VERDICT r9 #2: incremental append to the standing ANN index —
    encode-only upsert with the FROZEN codebooks, meta.n bumped, and a
    staleness guard on serve."""

    @pytest.fixture(scope="class")
    def split(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        standing = emb.filter(F.col("vec_id") % 10 != 0)
        batch = emb.filter(F.col("vec_id") % 10 == 0)
        return emb, standing, batch

    def test_append_equals_rebuild(
        self, spark, split, tmp_path_factory
    ):
        """With the same codebooks (fit_on=standing on both sides),
        build(standing)+append(batch) must be BIT-IDENTICAL to
        build(standing∪batch): same code rows, same meta, same served
        top-k."""
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            ann_topk_against_index,
            append_ann_index,
            build_ann_index,
        )

        emb, standing, batch = split
        base = tmp_path_factory.mktemp("append_eq")
        pa, pb = str(base / "a"), str(base / "b")
        n_cent = 16
        build_ann_index(
            standing, "vec_id", "embedding", 64, pa,
            n_centroids=n_cent, fit_on=standing,
        )
        receipt = append_ann_index(batch, "vec_id", "embedding", pa)
        build_ann_index(
            emb, "vec_id", "embedding", 64, pb,
            n_centroids=n_cent, fit_on=standing,
        )
        codes_a = sorted(
            map(tuple, spark.read.parquet(f"{pa}/codes").collect())
        )
        codes_b = sorted(
            map(tuple, spark.read.parquet(f"{pb}/codes").collect())
        )
        assert codes_a == codes_b
        meta_a = spark.read.parquet(f"{pa}/meta").head().asDict()
        meta_b = spark.read.parquet(f"{pb}/meta").head().asDict()
        assert meta_a == meta_b
        assert receipt["n_new"] == meta_b["n"]
        served_a = ann_topk_against_index(
            emb, "vec_id", "embedding", pa, k=5
        ).collect()
        served_b = ann_topk_against_index(
            emb, "vec_id", "embedding", pb, k=5
        ).collect()
        assert sorted(map(tuple, served_a)) == sorted(map(tuple, served_b))

    def test_receipt_arithmetic(self, spark, split, tmp_path_factory):
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            append_ann_index,
            build_ann_index,
        )

        emb, standing, batch = split
        path = str(tmp_path_factory.mktemp("append_rc") / "idx")
        build_ann_index(
            standing, "vec_id", "embedding", 64, path, fit_on=standing
        )
        n_codes_before = spark.read.parquet(f"{path}/codes").count()
        receipt = append_ann_index(batch, "vec_id", "embedding", path)
        assert receipt["n_old"] == standing.count()
        assert receipt["n_batch"] == batch.count()
        valid = batch.filter(
            F.col("embedding").isNotNull()
            & (
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )
                > 0
            )
        ).count()
        assert receipt["n_batch_coded"] == valid
        assert receipt["n_new"] == receipt["n_old"] + receipt["n_batch"]
        assert (
            spark.read.parquet(f"{path}/codes").count()
            == n_codes_before + valid
        )

    def test_staleness_guard(self, spark, split, tmp_path_factory):
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            ann_topk_against_index,
            append_ann_index,
            build_ann_index,
        )

        emb, standing, batch = split
        path = str(tmp_path_factory.mktemp("stale") / "idx")
        build_ann_index(
            standing, "vec_id", "embedding", 64, path, fit_on=standing
        )
        # serving the FULL corpus against the standing-only index: stale
        with pytest.warns(UserWarning, match="stale"):
            ann_topk_against_index(
                emb, "vec_id", "embedding", path, k=5, queries=batch
            )
        with pytest.raises(ValueError, match="stale"):
            ann_topk_against_index(
                emb, "vec_id", "embedding", path, k=5, queries=batch,
                staleness="error",
            )
        # after the append, meta.n matches and the guard stays silent
        append_ann_index(batch, "vec_id", "embedding", path)
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("error")
            ann_topk_against_index(
                emb, "vec_id", "embedding", path, k=5, queries=batch,
                staleness="error",
            ).collect()


class TestAnnDispatchFacade:
    """VERDICT r9 #4: one entry point choosing the measured-best tier
    from (n, target_recall, artifact)."""

    def test_choice_table(self, tmp_path):
        from udacity_capstone_data_engineering_spark.operators.ann import (
            LSH_DISPATCH_MAX_N,
            _lsh_kernel_max_n,
            choose_ann_tier,
        )

        assert choose_ann_tier(2_000, 0.9) == "lsh"
        # the LSH region ends at the broadcast-kernel byte cap for the
        # dim (~500k at dim 64, measured at the third decade: the join
        # regime past it spilled >60 GB at 2M vectors), and at the
        # 32-table recall cap for small dims
        cap64 = _lsh_kernel_max_n(64)
        assert choose_ann_tier(cap64, 0.9, dim=64) == "lsh"
        # r11: LSH runs to the 32-TABLE ladder cap regardless of the
        # byte cap — the sharded grid kernel measured 103 ms/query at
        # recall 0.9935 on the full 2M cell (the r10 byte-cap handoff
        # guarded a join regime that no longer exists)
        assert choose_ann_tier(cap64 + 1, 0.9, dim=64) == "lsh"
        assert choose_ann_tier(2_000_000, 0.9, dim=16) == "lsh"
        # past the table cap the law splits on the probe fraction the
        # target implies (r10 2M measurement: flat PQ beat IVF-PQ at
        # the 3/4 fraction on wall AND recall) — targets > 0.85 go
        # flat pq, lower targets keep the cell filter
        assert choose_ann_tier(LSH_DISPATCH_MAX_N + 1, 0.9, dim=16) == "pq"
        assert choose_ann_tier(LSH_DISPATCH_MAX_N + 1, 0.85, dim=64) == "ivfpq"
        assert choose_ann_tier(2_000, 0.99) == "ivf"
        # targets past the LSH ladder's promise: exact-cell IVF while
        # raw vectors broadcast, coded tiers past that byte cap
        assert choose_ann_tier(cap64 + 1, 0.99, dim=64) == "pq"
        assert choose_ann_tier(cap64 + 1, 0.9, dim=64) == "lsh"
        assert choose_ann_tier(cap64 + 1, 0.66, dim=64) == "lsh"
        # artifact wins — but only a COMPLETE one (meta sentinel)
        idx = tmp_path / "idx"
        (idx / "codes").mkdir(parents=True)
        assert choose_ann_tier(2_000, 0.9, index_path=str(idx)) == "lsh"
        (idx / "meta").mkdir()
        assert (
            choose_ann_tier(2_000, 0.9, index_path=str(idx)) == "standing"
        )

    def test_auto_matches_forced_tier(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.ann import (
            ann_topk,
        )
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            lsh_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        auto = ann_topk(emb, "vec_id", "embedding", dim=64, k=5).collect()
        direct = lsh_topk(emb, "vec_id", "embedding", dim=64, k=5).collect()
        assert sorted(map(tuple, auto)) == sorted(map(tuple, direct))

    def test_exact_mode_is_brute_force(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.ann import (
            ann_topk,
        )
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            brute_force_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings").limit(200)
        got = ann_topk(
            emb, "vec_id", "embedding", dim=64, k=3, mode="exact"
        ).collect()
        want = brute_force_topk(emb, "vec_id", "embedding", k=3).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    def test_standing_mode_serves_artifact(
        self, spark, sf_dir, tmp_path_factory
    ):
        from udacity_capstone_data_engineering_spark.operators.ann import (
            ann_topk,
        )
        from udacity_capstone_data_engineering_spark.operators.ann_index import (
            ann_topk_against_index,
            build_ann_index,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        path = str(tmp_path_factory.mktemp("facade") / "idx")
        build_ann_index(emb, "vec_id", "embedding", 64, path)
        via_auto = ann_topk(
            emb, "vec_id", "embedding", dim=64, k=5, index_path=path
        ).collect()
        direct = ann_topk_against_index(
            emb, "vec_id", "embedding", path, k=5
        ).collect()
        assert sorted(map(tuple, via_auto)) == sorted(map(tuple, direct))

    def test_bad_mode_raises(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.ann import (
            ann_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        with pytest.raises(ValueError, match="mode"):
            ann_topk(emb, "vec_id", "embedding", dim=64, mode="hnsw")
        with pytest.raises(ValueError, match="index_path"):
            ann_topk(emb, "vec_id", "embedding", dim=64, mode="standing")


class TestArtifactBaseDigest:
    """ADVICE r9: two corpora whose directories share a BASENAME must
    not share an artifact."""

    def test_same_basename_different_roots_differ(self, spark, tmp_path):
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            artifact_base,
        )

        a = tmp_path / "run_a" / "sf0.1"
        b = tmp_path / "run_b" / "sf0.1"
        pa = artifact_base(spark, str(a), "ann_index")
        pb = artifact_base(spark, str(b), "ann_index")
        assert pa != pb
        # stable for the same dir (the within-session reuse contract)
        assert pa == artifact_base(spark, str(a), "ann_index")
        # trailing slash is not a different corpus
        assert pa == artifact_base(spark, str(a) + "/", "ann_index")


class TestFanOutRowGroupAware:
    """ADVICE r9: a single LARGE file with many row groups distributes
    rows across splits fine — it must NOT pay the round-robin shuffle
    when it already has >= target partitions."""

    def test_multi_row_group_single_file_not_repartitioned(
        self, spark, tmp_path
    ):
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            fan_out_small_scan,
        )

        path = str(tmp_path / "many_rg")
        (
            spark.range(200_000)
            .selectExpr("id", "repeat('x', 64) AS pad")
            .coalesce(1)
            .write.option("parquet.block.size", 64 * 1024)
            .mode("overwrite")
            .parquet(path)
        )
        import pyarrow.parquet as pq

        part = [
            f for f in os.listdir(path) if f.endswith(".parquet")
        ]
        assert len(part) == 1
        n_rg = pq.ParquetFile(os.path.join(path, part[0])).metadata.num_row_groups
        assert n_rg > 1, "fixture must have many row groups"

        low = 2
        prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", 256 * 1024)
            back = spark.read.parquet(path)
            n_parts = back.rdd.getNumPartitions()
            assert n_parts > low, "fixture must out-split the target"
            sizes = back.rdd.glom().map(len).collect()
            assert sum(1 for s in sizes if s) > 1, (
                "multi-row-group file must distribute rows across splits"
            )
            fo = fan_out_small_scan(back, min_partitions=low)
            assert fo.rdd.getNumPartitions() == n_parts, (
                "well-distributed single-file scan must not be shuffled"
            )
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prior)

    def test_row_groups_in_helper(self, spark, tmp_path):
        from udacity_capstone_data_engineering_spark.sources.catalog import (
            _row_groups_in,
        )

        path = str(tmp_path / "one_rg")
        spark.range(1000).coalesce(1).write.mode("overwrite").parquet(path)
        part = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ][0]
        assert _row_groups_in(part) == 1
        assert _row_groups_in("file://" + part) == 1
        assert _row_groups_in("s3a://bucket/key.parquet") is None
        assert _row_groups_in("/nonexistent/nope.parquet") is None


class TestCatalogRowsRound10:
    """The two new catalog rows against their DuckDB oracles at test
    scale (the driver re-checks at sf0.01)."""

    @pytest.mark.parametrize(
        "name", ["ann_index_append", "ann_auto_dispatch"]
    )
    def test_row_matches_oracle(self, spark, sf_dir, name):
        import duckdb

        from udacity_capstone_data_engineering_spark import queries as catalog

        qs, oracles = catalog.queries(), catalog.oracle_sql()
        got = qs[name](spark, sf_dir)
        pdf = got.toPandas().sort_values(sorted(got.columns)).reset_index(
            drop=True
        )[sorted(got.columns)]
        con = duckdb.connect()
        for t in ["embeddings"]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        want = con.execute(oracles[name]).fetchdf()
        want = want.sort_values(sorted(want.columns)).reset_index(drop=True)[
            sorted(want.columns)
        ]
        assert list(pdf.columns) == list(want.columns)
        assert len(pdf) == len(want)
        for c in pdf.columns:
            assert pdf[c].astype(str).tolist() == want[c].astype(str).tolist(), c


class TestBenchLoadGuard:
    """VERDICT r9 #1: bench.py must not stamp a clean record on a
    loaded host — it waits, then marks the record load_tainted."""

    def _bench(self):
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "bench_under_test",
            os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_quiet_host_not_tainted(self, monkeypatch):
        bench = self._bench()
        monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
        monkeypatch.setenv("SPARK_GRAFT_LOAD_MAX", "3.0")
        assert bench._load_guard() is False

    def test_loaded_host_waits_then_taints(self, monkeypatch):
        bench = self._bench()
        loads = iter([(9.0,) * 3, (8.0,) * 3, (7.0,) * 3])
        monkeypatch.setattr(
            bench.os, "getloadavg", lambda: next(loads, (7.0,) * 3)
        )
        monkeypatch.setenv("SPARK_GRAFT_LOAD_MAX", "3.0")
        monkeypatch.setenv("SPARK_GRAFT_LOAD_WAIT", "0")
        assert bench._load_guard() is True

    def test_load_decays_below_bar_returns_clean(self, monkeypatch):
        bench = self._bench()
        loads = iter([(9.0,) * 3, (1.0,) * 3])
        monkeypatch.setattr(
            bench.os, "getloadavg", lambda: next(loads, (1.0,) * 3)
        )
        monkeypatch.setattr(bench.time, "sleep", lambda s: None)
        monkeypatch.setenv("SPARK_GRAFT_LOAD_MAX", "3.0")
        monkeypatch.setenv("SPARK_GRAFT_LOAD_WAIT", "600")
        assert bench._load_guard() is False
