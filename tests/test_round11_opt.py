"""Round-11 optimization tests: the brute-force top-k margin cut.

``brute_force_topk`` cuts the n² pair stream to ~n·k margin candidates
inside one Arrow scan (guide §2.3 "shuffle fewer bytes" / §4.2). These
tests pin the contract that makes it safe: row-identical output vs the
n² expression plan (values compared exactly — the rounding-margin
lemma in ``_topk_cut``'s docstring), on clean and on degenerate corpora.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators import similarity
from udacity_capstone_data_engineering_spark.operators.similarity import (
    _cosine_scan,
    _pairwise_cosine,
    brute_force_topk,
)
from pyspark.sql import Window


def _slow_topk(emb, id_col, vec_col, k):
    """The n² expression plan, ranked as ``brute_force_topk`` ranks."""
    scored = _pairwise_cosine(emb, id_col, vec_col, None)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _clean_corpus(spark, n=60, dim=8):
    """Deterministic corpus with many near-ties (md5-derived values in
    a coarse grid, so rounded-cosine ties with id tie-breaks occur)."""
    import hashlib

    rows = []
    for i in range(n):
        vec = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"tkm:{i}:{d}".encode()).hexdigest()[:8], 16
            )
            vec.append((h % 17) - 8.0)
        if all(v == 0 for v in vec):
            vec[0] = 1.0
        rows.append((i, vec))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_topk_kernel_rows_identical_to_pair_plan(spark):
    emb = _clean_corpus(spark)
    fast = brute_force_topk(emb, "vec_id", "embedding", k=5)
    slow = _slow_topk(emb, "vec_id", "embedding", 5)
    key = lambda r: (r["query_id"], r["rnk"])
    got = sorted(fast.collect(), key=key)
    want = sorted(slow.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # the fast path really engaged (kernel eligible on this corpus)
    assert _cosine_scan(emb, "vec_id", "embedding", k=5) is not None


def test_topk_kernel_sf_corpus_identical(spark, sf_dir):
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    fast = brute_force_topk(emb, "vec_id", "embedding", k=5)
    slow = _slow_topk(emb, "vec_id", "embedding", 5)
    key = lambda r: (r["query_id"], r["rnk"])
    got = sorted(fast.collect(), key=key)
    want = sorted(slow.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_topk_kernel_falls_back_on_degenerate_rows(spark):
    """Every degenerate shape the n² plan alone once handled — NULL,
    ragged and zero-norm vectors, string ids, corpora of <= k rows —
    answers through the scan with the n² plan's rows, NULL cosine
    included."""
    shapes = [
        ([(0, [1.0, 2.0]), (1, None), (2, [0.5, 1.0])], "long", 1),
        ([(0, [1.0, 2.0]), (1, [1.0]), (2, [0.5, 1.0])], "long", 1),
        ([(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [0.5, 1.0])], "long", 1),
        ([("a", [1.0, 2.0]), ("b", [0.5, 1.0])], "string", 1),
        ([(0, [1.0, 2.0]), (1, [0.5, 1.0])], "long", 5),
    ]
    key = lambda r: (r["query_id"], r["rnk"])
    for rows, id_type, k in shapes:
        emb = spark.createDataFrame(
            rows, f"vec_id {id_type}, embedding array<double>"
        )
        assert _cosine_scan(emb, "vec_id", "embedding", k=k) is not None
        got = sorted(
            brute_force_topk(emb, "vec_id", "embedding", k=k).collect(),
            key=key,
        )
        want = sorted(_slow_topk(emb, "vec_id", "embedding", k).collect(), key=key)
        assert [tuple(r) for r in got] == [tuple(r) for r in want], rows
        assert len(got) == len(rows) * min(k, len(rows) - 1)
    # the zero-norm row scores NULL against everything, in both directions
    zero = spark.createDataFrame(shapes[2][0], "vec_id long, embedding array<double>")
    out = brute_force_topk(zero, "vec_id", "embedding", k=1).collect()
    assert len(out) == 3
    assert {r["query_id"]: r["cosine"] for r in out}[1] is None


def test_threshold_kernel_rows_identical(spark, sf_dir):
    """embedding_dup_pairs' threshold scan emits exactly the pairs the
    n² expression plan's raw-double filter keeps."""
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    fast = _cosine_scan(emb, "vec_id", "embedding", threshold=0.4)
    assert fast is not None
    fast = fast.select(
        "query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine")
    )
    slow = _pairwise_cosine(emb, "vec_id", "embedding", threshold=0.4)
    key = lambda r: (r["query_id"], r["neighbor_id"])
    got = sorted(fast.collect(), key=key)
    want = sorted(slow.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 0


def test_threshold_kernel_falls_back_on_degenerate(spark):
    """A NULL vector pairs with nothing past the threshold on the scan,
    as on the n² plan."""
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [0.5, 1.0])],
        "vec_id long, embedding array<double>",
    )
    fast = _cosine_scan(bad, "vec_id", "embedding", threshold=0.4)
    assert fast is not None
    got = sorted(
        map(
            tuple,
            fast.select(
                "query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine")
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            _pairwise_cosine(
                bad, "vec_id", "embedding", threshold=0.4
            ).collect(),
        )
    )
    assert got == want == [(0, 2, 1.0)]


def test_topk_kernel_fast_path_in_plan(spark, sf_dir):
    """The sf corpus takes the kernel: plan shows MapInPandas and no
    per-pair ArrowEvalPython / nested-loop pair join."""
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    plan = brute_force_topk(
        emb, "vec_id", "embedding", k=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# r11: _unit_vectors Arrow kernel — bit-equal to the old JVM expression
# ---------------------------------------------------------------------------


def _jvm_unit_vectors(emb, id_col, vec_col):
    """The pre-r11 interpreted-HOF normalize, verbatim."""
    from udacity_capstone_data_engineering_spark.functions.vectors import (
        l2_norm,
    )

    return emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).select(
        F.col(id_col),
        F.col("__v"),
        l2_norm(F.col("__v")).alias("__n"),
    ).select(
        F.col(id_col),
        F.when(
            F.col("__n") > 0,
            F.transform(F.col("__v"), lambda x: x / F.col("__n")),
        ).alias("uv"),
    )


def _uv_repr(rows):
    # repr distinguishes NULL vs NaN and preserves the double bits via
    # the shortest round-trip decimal form.
    return {r[0]: repr(r[1]) for r in rows}


def test_unit_vectors_kernel_bit_equal(spark, sf_dir):
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _probe_dim,
        _unit_vectors,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _probe_dim(emb, "embedding")
    old = _uv_repr(_jvm_unit_vectors(emb, "vec_id", "embedding").collect())
    new = _uv_repr(_unit_vectors(emb, "vec_id", "embedding", dim).collect())
    assert old == new and len(old) > 0


def test_unit_vectors_kernel_degenerate_semantics(spark):
    """NULL vector / NULL element / zero norm → NULL uv; NaN and ±inf
    elements propagate exactly as the JVM expression (Spark compares
    NaN greater than any number, so a NaN norm PASSES the > 0 gate).
    A ragged vector (length other than the corpus dim) → NULL uv."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _unit_vectors,
    )

    rows = [
        (1, [3.0, 4.0]),
        (2, None),
        (3, [0.0, 0.0]),
        (4, [1.0]),
        (5, []),
        (6, [float("nan"), 1.0]),
        (7, [float("inf"), 1.0]),
        (8, [None, 2.0]),
        (9, [1.0, 2.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = _uv_repr(_jvm_unit_vectors(df, "vec_id", "embedding").collect())
    new = _uv_repr(_unit_vectors(df, "vec_id", "embedding", 2).collect())
    old.update({4: repr(None), 9: repr(None)})  # ragged beside dim 2
    assert old == new


def test_unit_vectors_kernel_sliced_batch():
    """A sliced Arrow batch keeps its ids paired with its own vectors:
    the list offsets of a slice start past 0 while ``values`` is still
    the whole child array."""
    import pyarrow as pa

    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _normalize_batches,
    )

    vecs = [[float(i), float(i + 1), 2.0] for i in range(6)]
    full = pa.RecordBatch.from_arrays(
        [pa.array(range(6), pa.int64()), pa.array(vecs, pa.list_(pa.float64()))],
        ["vec_id", "__v"],
    )
    (whole,) = _normalize_batches([full], 3)
    for offset, length in ((2, 3), (5, 1), (6, 0)):
        (got,) = _normalize_batches([full.slice(offset, length)], 3)
        assert got.column(0).to_pylist() == list(range(offset, offset + length))
        assert got.column(1).to_pylist() == (
            whole.column(1).slice(offset, length).to_pylist()
        )


def test_minhash_rows_outer_explode_identical(catalog, spark, sf_dir):
    """minhash_rows' posexplode_outer + generated-column filter emits
    exactly the rows the plain posexplode did — and its physical plan
    no longer re-evaluates the signature fold inside a pushed filter
    (the 18.6 s → 0.5 s r11 fix)."""
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        minhash_signatures,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
        load_table,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "text", "doc_id")
    plain = sigs.select(
        "doc_id", F.posexplode("signature").alias("seed", "minhash")
    )
    got = catalog["minhash_rows"]
    key = lambda r: (r["doc_id"], r["seed"])  # noqa: E731
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the pruning filter must sit ABOVE the generate, on the generated
    # column — never below the projection with the HOF fold inlined
    import re

    for cond in re.findall(r"Filter \(?([^\n]*)", plan):
        assert "lambdafunction" not in cond
