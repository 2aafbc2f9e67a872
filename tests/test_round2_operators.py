"""Round-2 operator tests: prefix-filtered Jaccard join, winnowing
fingerprints, BPE pre-tokenization, multimodal frame-sample/resize,
stratified sampling."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.jaccard import (
    jaccard_similarity_join,
    prefix_length,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestJaccardJoin:
    def test_matches_brute_force(self, spark):
        # 6 docs: 0/1 identical, 2 near-dup of 0, 3/4/5 unrelated.
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (0, base),
            (1, base),
            (2, base + " extra"),
            (3, "completely different words with no overlap at all here now"),
            (4, "spark catalyst tungsten codegen shuffle partition broadcast join"),
            (5, "short"),
        ]
        df = _docs(spark, rows)
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_similarity_join(
                df, "text", "doc_id", threshold=0.5, shingle_k=3
            ).collect()
        }

        # Brute force over true shingle sets.
        def shingles(t, k=3):
            toks = t.split()
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

        expect = {}
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = shingles(rows[i][1]), shingles(rows[j][1])
                if not a or not b:
                    continue
                jac = len(a & b) / len(a | b)
                if round(jac, 6) >= 0.5:
                    expect[(rows[i][0], rows[j][0])] = round(jac, 6)
        assert got == expect
        assert (0, 1) in got and got[(0, 1)] == 1.0

    def test_randomized_corpus_matches_brute_force(self, spark):
        # Seeded random corpus with planted mutation families: the
        # prefix filter must reproduce brute force EXACTLY at several
        # thresholds (no false negatives from the prefix bound, no
        # false positives surviving verification).
        import random

        rng = random.Random(42)
        vocab = [f"w{i}" for i in range(30)]
        rows = []
        doc_id = 0
        for fam in range(8):
            base = [rng.choice(vocab) for _ in range(rng.randint(6, 25))]
            for _ in range(rng.randint(1, 4)):
                mut = list(base)
                for _ in range(rng.randint(0, 3)):
                    mut[rng.randrange(len(mut))] = rng.choice(vocab)
                rows.append((doc_id, " ".join(mut)))
                doc_id += 1
        df = _docs(spark, rows)

        def shingles(t, k):
            toks = t.split()
            return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

        for threshold, k in [(0.3, 3), (0.6, 3), (0.9, 2)]:
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in jaccard_similarity_join(
                    df, "text", "doc_id", threshold=threshold, shingle_k=k
                ).collect()
            }
            expect = {}
            for i in range(len(rows)):
                for j in range(i + 1, len(rows)):
                    a, b = shingles(rows[i][1], k), shingles(rows[j][1], k)
                    if not a or not b:
                        continue
                    jac = round(len(a & b) / len(a | b), 6)
                    if jac >= threshold:
                        expect[(rows[i][0], rows[j][0])] = jac
            assert got == expect, f"mismatch at t={threshold}, k={k}"

    def test_threshold_validation(self, spark):
        df = _docs(spark, [(0, "a b c")])
        with pytest.raises(ValueError):
            jaccard_similarity_join(df, "text", "doc_id", threshold=0.0)

    def test_prefix_length_formula(self):
        # |S|=10, t=0.8 -> keep 10 - 8 + 1 = 3 prefix elements.
        assert prefix_length(10, 0.8) == 3
        assert prefix_length(1, 1.0) == 1
        # t -> 0 keeps everything.
        assert prefix_length(10, 0.05) == 10


class TestWinnowing:
    def test_shared_substring_shares_fingerprint(self, spark):
        from udacity_capstone_data_engineering_spark.operators.dedup import (
            winnow_fingerprints,
        )

        # Winnowing guarantee: any shared substring of length
        # >= k + window - 1 (= 11) produces a shared fingerprint.
        common = "zzcommonblockzz"
        rows = [
            (0, f"left padding words {common} more words"),
            (1, f"other text {common} different tail"),
            (2, "nothing like the others at all whatsoever"),
        ]
        fps = (
            winnow_fingerprints(_docs(spark, rows), "text", "doc_id", k=8, window=4)
            .groupBy("doc_id")
            .agg(F.collect_set("fp").alias("fps"))
            .collect()
        )
        by_id = {r.doc_id: set(r.fps) for r in fps}
        assert by_id[0] & by_id[1], "shared block must share a fingerprint"

    def test_short_doc_yields_no_rows(self, spark):
        from udacity_capstone_data_engineering_spark.operators.dedup import (
            winnow_fingerprints,
        )

        out = winnow_fingerprints(
            _docs(spark, [(0, "tiny")]), "text", "doc_id", k=8, window=4
        )
        assert out.count() == 0


class TestMultimodal:
    def test_sample_frames_exact(self, spark):
        from udacity_capstone_data_engineering_spark.operators.multimodal import (
            sample_frames,
        )

        payload = bytes(range(100))  # 6 full 16-byte frames + remainder
        df = spark.createDataFrame(
            [(1, payload)], "doc_id long, payload binary"
        )
        rows = sample_frames(
            df, "payload", "doc_id", frame_bytes=16, every=4
        ).collect()
        got = {(r.frame_idx, r.frame_md5) for r in rows}
        expect = {
            (fi, hashlib.md5(payload[fi * 16 : (fi + 1) * 16]).hexdigest())
            for fi in (0, 4)
        }
        assert got == expect

    def test_resize_nearest_exact(self, spark):
        import numpy as np

        from udacity_capstone_data_engineering_spark.operators.multimodal import (
            resize_nearest,
        )

        img = np.arange(256, dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, img.tobytes()), (2, b"too short")],
            "doc_id long, payload binary",
        )
        rows = resize_nearest(
            df, "payload", "doc_id", width=16, height=16, factor=2
        ).collect()
        assert {r.doc_id for r in rows} == {1}
        got = {(r.out_row, r.out_col): r.pixel for r in rows}
        small = img.reshape(16, 16)[::2, ::2]
        assert len(got) == 64
        for (r, c), v in got.items():
            assert v == int(small[r, c])

    def test_resize_validates_factor(self, spark):
        from udacity_capstone_data_engineering_spark.operators.multimodal import (
            resize_nearest,
        )

        df = spark.createDataFrame([(1, b"x")], "doc_id long, payload binary")
        with pytest.raises(ValueError):
            resize_nearest(df, "payload", "doc_id", width=15, height=16, factor=2)


class TestStratifiedSample:
    def test_fractions_and_determinism(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.sampling import (
            stratified_sample,
        )
        from udacity_capstone_data_engineering_spark.sources.catalog import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        frs = {"en": 0.5, "es": 0.25}
        s1 = stratified_sample(docs, "doc_id", "lang", frs, seed=11,
                               default_fraction=0.05)
        s2 = stratified_sample(docs.repartition(7), "doc_id", "lang", frs,
                               seed=11, default_fraction=0.05)
        ids1 = {r.doc_id for r in s1.collect()}
        ids2 = {r.doc_id for r in s2.collect()}
        assert ids1 == ids2, "sample must be partitioning-independent"
        # Kept fraction per stratum should be in the right ballpark.
        n_en = docs.filter(F.col("lang") == "en").count()
        k_en = s1.filter(F.col("lang") == "en").count()
        if n_en >= 50:
            assert abs(k_en / n_en - 0.5) < 0.2

    def test_fraction_validation(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.sampling import (
            stratified_sample,
        )
        from udacity_capstone_data_engineering_spark.sources.catalog import load_table

        docs = load_table(spark, sf_dir, "documents")
        with pytest.raises(ValueError):
            stratified_sample(docs, "doc_id", "lang", {"en": 1.5})


class TestBpePretokens:
    def test_segmentation(self, spark):
        from udacity_capstone_data_engineering_spark.functions.text import (
            bpe_pretokens,
        )

        df = spark.createDataFrame([('{"k": 69}',)], "s string")
        toks = df.select(bpe_pretokens("s").alias("t")).collect()[0].t
        assert toks == ['{"', "k", '":', " 69", "}"]


class TestZOrder:
    def test_morton_code_matches_python(self, spark):
        from udacity_capstone_data_engineering_spark.functions.zorder import (
            morton_code,
        )

        df = spark.createDataFrame(
            [(x, y) for x in (0, 1, 5, 255) for y in (0, 3, 128, 255)],
            "x long, y long",
        )
        rows = df.select("x", "y", morton_code("x", "y", bits=8).alias("z")).collect()

        def py_morton(x, y, bits=8):
            z = 0
            for i in range(bits):
                z |= ((x >> i) & 1) << (2 * i)
                z |= ((y >> i) & 1) << (2 * i + 1)
            return z

        for r in rows:
            assert r.z == py_morton(r.x, r.y), (r.x, r.y)

    def test_zorder_layout_prunes_2d_boxes(self, spark, tmp_path):
        """The point of Z-ordering: after a z-sorted write, a 2-D box
        predicate overlaps far fewer files (by footer min/max) than
        under a 1-D sorted layout — file skipping with no engine
        support beyond sort-before-write."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from udacity_capstone_data_engineering_spark.functions.zorder import (
            zorder_by,
        )

        n, side = 65536, 256
        base = spark.range(n).select(
            (F.col("id") % side).alias("x"), (F.col("id") / side).cast("long").alias("y")
        )
        linear = str(tmp_path / "linear")
        zord = str(tmp_path / "zorder")
        # 1-D layout: globally sorted by x only.
        base.orderBy("x").coalesce(1).write.option(
            "maxRecordsPerFile", 4096
        ).parquet(linear)
        zorder_by(base, "x", "y", bits=8).coalesce(1).write.option(
            "maxRecordsPerFile", 4096
        ).parquet(zord)

        def overlapping_files(path, lo, hi):
            import glob

            total, hit = 0, 0
            for f in glob.glob(f"{path}/*.parquet"):
                md = pq.ParquetFile(f).metadata
                xmin = min(md.row_group(i).column(0).statistics.min
                           for i in range(md.num_row_groups))
                xmax = max(md.row_group(i).column(0).statistics.max
                           for i in range(md.num_row_groups))
                ymin = min(md.row_group(i).column(1).statistics.min
                           for i in range(md.num_row_groups))
                ymax = max(md.row_group(i).column(1).statistics.max
                           for i in range(md.num_row_groups))
                total += 1
                if not (xmax < lo or xmin > hi or ymax < lo or ymin > hi):
                    hit += 1
            return hit, total

        box = (0, 31)  # 1/8 of each axis -> 1/64 of the plane
        hit_lin, tot_lin = overlapping_files(linear, *box)
        hit_z, tot_z = overlapping_files(zord, *box)
        assert tot_lin >= 8 and tot_z >= 8
        # x-sorted layout: every file spans all y -> only x prunes.
        # z-order: files are rectangles -> both dims prune.
        assert hit_z < hit_lin, (hit_z, tot_z, hit_lin, tot_lin)


class TestExpectations:
    def test_null_counts_as_violation(self, spark):
        from udacity_capstone_data_engineering_spark.qc import check_expectations

        df = spark.createDataFrame(
            [(1, 10.0), (2, None), (3, -5.0)], "id long, v double"
        )
        out = {
            r.rule: (r.violations, r.n_rows)
            for r in check_expectations(
                df,
                [
                    ("v_positive", F.col("v") > 0),  # NULL row must count
                    ("id_not_null", F.col("id").isNotNull()),
                ],
            ).collect()
        }
        assert out == {"v_positive": (2, 3), "id_not_null": (0, 3)}


class TestCompaction:
    def test_compact_small_files_reduces_file_count(self, spark, tmp_path):
        from udacity_capstone_data_engineering_spark.sources.sinks import (
            compact_small_files,
        )

        path = str(tmp_path / "frag")
        df = spark.range(10_000).selectExpr("id", "id * 2 AS v")
        df.repartition(64).write.parquet(path)  # 64 tiny files
        import glob

        before = len(glob.glob(path + "/*.parquet"))
        assert before >= 32
        _, n_after = compact_small_files(spark, path, target_file_bytes=1 << 30)
        after = len(glob.glob(path + "/*.parquet"))
        assert after <= 2
        back = spark.read.parquet(path)
        assert back.count() == 10_000
        assert back.agg({"v": "sum"}).first()[0] == df.agg({"v": "sum"}).first()[0]


class TestSaltedJoin:
    def test_salted_join_equals_plain_join(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.operators.skew import salted_join
        from udacity_capstone_data_engineering_spark.sources.catalog import load_table

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        ).withColumnRenamed("c_custkey", "o_custkey")
        plain = orders.join(cust, "o_custkey").groupBy("c_mktsegment").count()
        salted = (
            salted_join(orders, cust, "o_custkey", salt=8)
            .groupBy("c_mktsegment")
            .count()
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_salted_left_join_preserves_unmatched(self, spark):
        from udacity_capstone_data_engineering_spark.operators.skew import salted_join

        left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
        right = spark.createDataFrame([(1, "x")], "k long, rv string")
        out = salted_join(left, right, "k", salt=4, how="left").collect()
        assert len(out) == 2
        unmatched = [r for r in out if r.k == 2][0]
        assert unmatched.rv is None


class TestSortedWrite:
    def test_write_parquet_sorted_no_global_sort(self, spark, sf_dir, tmp_path):
        """Rows sort within files (row-group stats clustering) with no
        range exchange in the plan, and read-back preserves the data."""
        from pyspark.sql import functions as F

        from udacity_capstone_data_engineering_spark.sources.catalog import load_table
        from udacity_capstone_data_engineering_spark.sources.sinks import (
            write_parquet_sorted,
        )

        orders = load_table(spark, sf_dir, "orders")
        sorted_df = orders.sortWithinPartitions("o_orderdate")
        plan = sorted_df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan.lower()  # no global sort
        assert "Sort [" in plan
        path = write_parquet_sorted(
            orders, str(tmp_path), "orders_sorted", ["o_orderdate"]
        )
        back = spark.read.parquet(path)
        assert back.count() == orders.count()
        # per-file monotonicity: within each parquet file the sort
        # column never decreases
        import pyspark.sql.window as W

        w = (
            W.Window.partitionBy(F.input_file_name())
            .orderBy(F.monotonically_increasing_id())
        )
        checked = back.select(
            F.col("o_orderdate").alias("d"),
            F.lag("o_orderdate").over(w).alias("prev"),
        )
        violations = checked.filter(
            F.col("prev").isNotNull() & (F.col("d") < F.col("prev"))
        ).count()
        assert violations == 0
