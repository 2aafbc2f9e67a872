"""Round-3 ADVICE fixes: atomic compaction swap, empty-doc chunking."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F


class TestCompactionSwapSafety:
    def test_no_sibling_dirs_left_behind(self, spark, tmp_path):
        from udacity_capstone_data_engineering_spark.sources.sinks import (
            compact_small_files,
        )

        path = str(tmp_path / "t")
        spark.range(1000).selectExpr("id", "id*3 AS v").repartition(16).write.parquet(
            path
        )
        compact_small_files(spark, path, target_file_bytes=1 << 30)
        siblings = [p for p in glob.glob(path + "__*") if os.path.isdir(p)]
        assert siblings == [], "backup/tmp dirs must be cleaned after a good swap"
        assert spark.read.parquet(path).count() == 1000

    def test_failed_tmp_write_leaves_original_intact(self, spark, tmp_path):
        """If the compaction rewrite itself fails (e.g. unreadable
        input), the original directory is untouched — the swap only
        begins after the tmp write succeeds."""
        from udacity_capstone_data_engineering_spark.sources.sinks import (
            compact_small_files,
        )

        path = str(tmp_path / "t2")
        spark.range(100).write.parquet(path)
        # Poison the directory with a non-parquet file: the read fails
        # mid-rewrite, before any rename touches the original.
        with open(os.path.join(path, "part-junk.parquet"), "wb") as f:
            f.write(b"not parquet")
        with pytest.raises(Exception):
            compact_small_files(spark, path, target_file_bytes=1 << 30)
        assert os.path.isdir(path), "original must survive a failed rewrite"


class TestEmptyDocChunking:
    def test_empty_text_emits_no_chunks_and_matches_oracle(self, spark, tmp_path):
        """ADVICE r2: sequence(0, -1) on an empty doc used to emit two
        phantom chunk rows while the DuckDB oracle emitted none. Both
        sides now agree: empty docs produce zero chunks."""
        from udacity_capstone_data_engineering_spark import queries_phase6 as p6

        docs = spark.createDataFrame(
            [
                ("d0", "", "en", 0),
                ("d1", "x" * 50, "en", 0),
                ("d2", "y" * 250, "en", 0),
            ],
            "doc_id string, text string, lang string, category int",
        )
        sf = str(tmp_path / "sf")
        docs.write.parquet(os.path.join(sf, "documents.parquet"))

        rows = p6.doc_chunks_overlap(spark, sf).collect()
        assert all(r["doc_id"] != "d0" for r in rows)
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert len(by_doc["d1"]) == 1  # one short chunk
        assert len(by_doc["d2"]) == 4  # ceil((250-1)/80)+... = idx 0..3

        from udacity_capstone_data_engineering_spark.queries import _REGISTRY

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf, 'documents.parquet')}/*.parquet')"
        )
        oracle = con.execute(_REGISTRY["doc_chunks_overlap"][1]).fetchall()
        got = sorted((r["doc_id"], r["chunk_idx"], r["chunk_md5"], r["chunk_len"]) for r in rows)
        want = sorted((a, b, c, d) for a, b, c, d in oracle)
        assert got == want


class TestNoDriverCollect:
    def test_no_collect_in_engine_source(self):
        """VERDICT r2 #5 closed: no `.collect()` anywhere in the engine
        package — the only driver-side materializations are the two
        declared Arrow `toPandas()` boundaries (ANN scoring matrix,
        IVF centroid fit), both byte-capped, plus the r5e exact-integer
        k-means' TWO declared bounded collects (k-row init + k x d
        update sums per round — the MLlib KMeans layout; an iterative
        fixpoint cannot stay lazy), plus r8's standing-semantic-index
        centroid load (``load_semantic_index``: k x d ints — the same
        broadcast-sized object the Lloyd loop itself ships; the
        representatives side stays a lazy DataFrame). Any other
        collect is a regression."""
        import ast
        import pathlib

        pkg = (
            pathlib.Path(__file__).resolve().parent.parent
            / "udacity_capstone_data_engineering_spark"
        )
        # file -> {function name -> allowed count}: the allowance is
        # anchored to the FUNCTION holding the declared bounded
        # collect (ADVICE r8 — a per-file count would let the
        # load_semantic_index centroid collect be silently traded for
        # an unbounded collect elsewhere in the same file).
        allowed = {
            "operators/kmeans.py": {"kmeans_int": 2},
            "operators/semdedup.py": {"load_semantic_index": 1},
        }
        hits: dict[str, dict[str, int]] = {}
        for p in pkg.rglob("*.py"):
            text = p.read_text()
            collect_lines = [
                i + 1
                for i, line in enumerate(text.splitlines())
                if ".collect()" in line.split("#")[0]
            ]
            if not collect_lines:
                continue
            spans = [
                (node.name, node.lineno, node.end_lineno)
                for node in ast.walk(ast.parse(text))
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            rel = str(p.relative_to(pkg))
            per_fn: dict[str, int] = {}
            for ln in collect_lines:
                # innermost enclosing function (smallest span)
                encl = min(
                    (s for s in spans if s[1] <= ln <= s[2]),
                    key=lambda s: s[2] - s[1],
                    default=("<module>", 0, 0),
                )
                per_fn[encl[0]] = per_fn.get(encl[0], 0) + 1
            hits[rel] = per_fn
        assert hits == allowed, f"driver-side collect crept back in: {hits}"


class TestBoilerplateSkew:
    """VERDICT r2 #6: LSH bucket skew on a boilerplate-heavy corpus.

    20% of the docs are byte-identical copies of one template — the
    realistic web-corpus shape (nav chrome, disclaimers). Uncollapsed,
    every copy lands in the same bucket in every band and in-bucket
    pair enumeration goes quadratic in the copy count; the exact-
    collapse valve keeps the near-dup tier sub-quadratic.
    """

    @staticmethod
    def _corpus(spark, n=500, template_share=0.2):
        template = "all rights reserved contact us privacy policy terms of service apply here"
        n_tpl = int(n * template_share)
        rows = [(i, template) for i in range(n_tpl)]
        for i in range(n_tpl, n):
            words = " ".join(f"w{(i * 7 + j * 131) % 9973}" for j in range(12))
            rows.append((i, words))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_collapse_representatives(self, spark):
        from udacity_capstone_data_engineering_spark.operators.dedup import (
            collapse_exact_duplicates,
        )

        docs = self._corpus(spark)
        reps = collapse_exact_duplicates(docs, "text", "doc_id")
        assert reps.count() == 401  # 1 template rep + 400 distinct
        tpl = reps.filter("group_size > 1").collect()
        assert len(tpl) == 1 and tpl[0]["group_size"] == 100
        assert tpl[0]["doc_id"] == 0  # deterministic minimal-id rep

    def test_collapsed_candidates_subquadratic(self, spark):
        from udacity_capstone_data_engineering_spark.operators.dedup import (
            collapse_exact_duplicates,
            lsh_candidate_pairs,
            minhash_signatures,
        )

        docs = self._corpus(spark)
        raw = lsh_candidate_pairs(
            minhash_signatures(docs, "text", "doc_id"), "doc_id"
        ).count()
        assert raw >= 4950, "fixture must exhibit the quadratic blowup"

        reps = collapse_exact_duplicates(docs, "text", "doc_id")
        collapsed = lsh_candidate_pairs(
            minhash_signatures(reps, "text", "doc_id"), "doc_id"
        ).count()
        assert collapsed < 500, (
            f"collapsed candidate count must be sub-quadratic: {collapsed}"
        )

    def test_near_dup_pairs_collapsed_carries_copy_counts(self, spark):
        from udacity_capstone_data_engineering_spark.operators.dedup import (
            near_dup_pairs_collapsed,
        )

        docs = self._corpus(spark, n=300)
        # add a true near-dup of the template (one word changed) so the
        # verified output is non-trivially exercised
        extra = self._corpus(spark, n=0).sparkSession.createDataFrame(
            [(9_000, "all rights reserved contact us privacy policy terms of service apply now")],
            "doc_id long, text string",
        )
        out = near_dup_pairs_collapsed(
            docs.unionByName(extra), "text", "doc_id", threshold=0.5
        ).collect()
        assert out, "template variant must be detected as a near-dup"
        for r in out:
            assert r["copies_a"] >= 1 and r["copies_b"] >= 1
        tpl_pair = [r for r in out if r["id_b"] == 9_000 or r["id_a"] == 9_000]
        assert tpl_pair and max(
            max(r["copies_a"], r["copies_b"]) for r in tpl_pair
        ) == 60  # the 20%-of-300 template group rides along on its rep
