"""Phase-7 operator unit tests: containment join, sequence packing."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestContainmentJoin:
    def test_quote_inside_article_detected_directionally(self, spark):
        from udacity_capstone_data_engineering_spark.operators.jaccard import (
            containment_join,
        )

        quote = "alpha beta gamma delta epsilon zeta"
        article = quote + " " + " ".join(f"word{i}" for i in range(60))
        other = " ".join(f"noise{i}" for i in range(30))
        df = spark.createDataFrame(
            [(1, quote), (2, article), (3, other)], "doc_id long, text string"
        )
        rows = {
            (r.id_a, r.id_b): r.containment
            for r in containment_join(df, "text", "doc_id", 0.9, shingle_k=2).collect()
        }
        assert rows.get((1, 2)) == 1.0  # quote fully contained in article
        assert (2, 1) not in rows  # article NOT contained in quote
        assert not any(3 in p for p in rows)

    def test_matches_naive_quadratic(self, spark, sf_dir):
        from udacity_capstone_data_engineering_spark.functions.text import (
            word_shingles,
        )
        from udacity_capstone_data_engineering_spark.operators.jaccard import (
            containment_join,
        )

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("doc_id") % 7 == 0)
        )
        got = {
            (r.id_a, r.id_b)
            for r in containment_join(docs, "text", "doc_id", 0.25, shingle_k=2).collect()
        }
        sh = docs.select("doc_id", word_shingles("text", k=2).alias("sh"))
        a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
        b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
        naive = (
            a.crossJoin(b)
            .filter("id_a <> id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.size(F.array_intersect("sa", "sb"))
                    / F.greatest(F.size("sa"), F.lit(1))
                ).alias("c"),
            )
            .filter("c >= 0.25")
        )
        want = {(r.id_a, r.id_b) for r in naive.collect()}
        assert got == want  # prefix filter loses nothing


class TestPacking:
    def test_budget_and_contiguity(self, spark):
        from udacity_capstone_data_engineering_spark.operators.packing import (
            pack_contiguous,
        )

        df = spark.createDataFrame(
            [(i, 100 + (i % 7) * 30) for i in range(200)], "id long, w long"
        )
        out = pack_contiguous(df, "id", "w", budget=500, buckets=4).collect()
        packs = {}
        for r in out:
            packs.setdefault((r.bucket, r.pack_id), []).append(r)
        for (_, _), rows in packs.items():
            total = sum(r.weight for r in rows)
            # greedy contiguous: a pack only exceeds the budget by
            # (at most) its final member
            assert total - max(r.weight for r in rows) < 500
        # pack ids are dense and start at 0 within each bucket
        for b in {r.bucket for r in out}:
            ids = sorted({r.pack_id for r in out if r.bucket == b})
            assert ids == list(range(len(ids)))

    def test_repartition_invariant(self, spark):
        from udacity_capstone_data_engineering_spark.operators.packing import (
            pack_contiguous,
        )

        df = spark.createDataFrame(
            [(i, 50 + i % 11) for i in range(300)], "id long, w long"
        )
        one = {
            (r.id, r.bucket, r.pack_id)
            for r in pack_contiguous(df.coalesce(1), "id", "w", 400).collect()
        }
        many = {
            (r.id, r.bucket, r.pack_id)
            for r in pack_contiguous(df.repartition(13), "id", "w", 400).collect()
        }
        assert one == many


class TestInt8Quantization:
    def test_recall_preserved_after_quantization(self, spark, sf_dir):
        """int8 round-trip must keep the exact top-k mostly intact —
        the property that makes the 4x memory cut usable in serving."""
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            brute_force_topk,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        v = F.col("embedding").cast("array<double>")
        amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
        scale = 127.0 / F.greatest(amax, F.lit(1e-30))
        deq = F.transform(
            v,
            lambda x: F.greatest(
                F.least(F.floor(x * scale + 0.5), F.lit(127.0)), F.lit(-127.0)
            )
            / scale,
        )
        qemb = emb.select("vec_id", deq.cast("array<float>").alias("embedding"))
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, "vec_id", "embedding", k=5).collect()
        }
        quant = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(qemb, "vec_id", "embedding", k=5).collect()
        }
        recall = len(exact & quant) / len(exact)
        assert recall >= 0.9, f"int8 quantization lost too much: {recall}"


class TestRerankTwoStage:
    def test_ann_stage1_final_topk_recall(self, spark, sf_dir):
        """VERDICT r4 #1: the ANN-stage-1 variants must reproduce the
        exact pipeline's FINAL top-k (after the stage-2 blend) with
        recall >= 0.9 — the end-to-end gate, not just stage-1 overlap."""
        from udacity_capstone_data_engineering_spark.queries.retrieval import (
            _rerank_pipeline,
        )

        def final_sets(df):
            out = {}
            for r in df.collect():
                out.setdefault(r.query_id, set()).add(r.neighbor_id)
            return out

        want = final_sets(_rerank_pipeline(spark, sf_dir, stage1="exact"))
        assert want, "exact pipeline returned no queries"
        for backend in ("lsh", "ivfpq"):
            got = final_sets(_rerank_pipeline(spark, sf_dir, stage1=backend))
            assert set(got) == set(want), (backend, "query set mismatch")
            hits = sum(len(got[q] & want[q]) for q in want)
            total = sum(len(want[q]) for q in want)
            recall = hits / total
            assert recall >= 0.9, f"{backend}: final top-k recall {recall:.3f}"

    def test_unknown_stage1_raises(self, spark, sf_dir):
        import pytest

        from udacity_capstone_data_engineering_spark.queries.retrieval import (
            _rerank_pipeline,
        )

        with pytest.raises(ValueError, match="stage1"):
            _rerank_pipeline(spark, sf_dir, stage1="bogus")
