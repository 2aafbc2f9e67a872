"""Round-6 battery: SemDeDup auto-k (VERDICT r5 #1) — formula parity,
collapse-valve equivalence, recall vs the global brute force and the
pinned-k anchor, and the hot-cluster skew bound."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.kmeans import (
    _quantize,
    kmeans_int,
)
from udacity_capstone_data_engineering_spark.operators.semdedup import (
    EPS,
    K,
    TARGET_CLUSTER,
    auto_k,
    auto_k_sql,
    semantic_dedup,
)
from udacity_capstone_data_engineering_spark.sources.catalog import load_table

TEST_SF = __import__("os").environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)


def test_auto_k_formula_and_sql_parity():
    """The Python formula and its DuckDB twin agree on every regime:
    below the floor, at boundaries, and far above."""
    assert auto_k(0) == 1  # degenerate guard: k <= n
    assert auto_k(3) == 3
    assert auto_k(10) == K
    assert auto_k(64 * K) == K
    assert auto_k(64 * K + 1) == K + 1
    assert auto_k(500) == 8
    assert auto_k(2000) == 32
    assert auto_k(3_200_000) == 50_000  # the published LAION shape
    con = duckdb.connect()
    for n in (1, 3, 255, 256, 257, 500, 2000, 1_000_000):
        got = con.execute(
            auto_k_sql(f"(SELECT unnest(range({n})) AS x)")
        ).fetchone()[0]
        # the SQL twin omits the k<=n cap (the served corpora are
        # always >> K); compare on the shared regime
        assert got == max(K, -(-n // TARGET_CLUSTER))
        if n >= K:
            assert got == auto_k(n)


def test_semantic_dedup_collapse_equivalence(spark, sf_dir):
    """The exact-collapse valve is semantics-preserving: identical
    output with and without it, on data salted with exact twins so the
    collapse actually fires (the proof is in the module docstring;
    this is its executable check)."""
    vecs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", "embedding")
    )
    twins = vecs.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    salted = vecs.unionByName(twins)
    rows = lambda collapse: sorted(
        (r["vec_id"], r["cluster"], r["is_dup"])
        for r in semantic_dedup(
            salted, "vec_id", "embedding", k=None, collapse=collapse
        ).collect()
    )
    assert rows(True) == rows(False)


def _global_eps_dups(qv: dict[int, list[int]]) -> set[int]:
    ids = sorted(qv)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if b in out:
                continue
            if sum((x - y) * (x - y) for x, y in zip(qv[a], qv[b])) <= EPS:
                out.add(b)
    return out


def test_semantic_dedup_autok_recall(spark, sf_dir):
    """Auto-k vs the two anchors on the driver corpus:
    - PRECISION is exactly 1 against the global brute-force eps dup
      set (within-cluster pairs are a subset of all pairs — flagging
      is sound by construction);
    - RECALL >= 0.78 vs global brute force and >= 0.70 vs the
      pinned-k=4 anchor (measured 0.80 / 0.78+ on the driver data —
      more clusters split more eps-neighborhoods, the documented
      SemDeDup tradeoff bought for linear candidate volume)."""
    vecs = load_table(spark, sf_dir, "embeddings")
    qv = {
        r["vid"]: list(r["qv"])
        for r in _quantize(vecs, "vec_id", "embedding", 1024).collect()
    }
    glob = _global_eps_dups(qv)
    flagged = {
        k: {
            r["vec_id"]
            for r in semantic_dedup(vecs, "vec_id", "embedding", k=k).collect()
            if r["is_dup"]
        }
        for k in (None, 4)
    }
    auto, pinned = flagged[None], flagged[4]
    assert auto <= glob  # precision 1.0
    assert pinned <= glob
    assert len(auto & glob) / len(glob) >= 0.78
    assert len(auto & pinned) / len(pinned) >= 0.70


def test_semantic_dedup_hot_cluster_pair_bound(spark):
    """The skew fixture the r5 verdict asked for: a corpus that is 96%
    exact twins of one vector. k-means necessarily piles the twins
    into ONE cluster (auto-k cannot split identical points), so the
    UNCOLLAPSED pair stage would emit ~480^2/2 candidates in a single
    task. The collapse valve bounds the pair-stage input to DISTINCT
    quantized vectors: every cluster's pair side carries at most 21
    rows here, so the per-task candidate volume is <= 21*20/2 — and
    the flags are still exactly right."""
    import random

    rng = random.Random(13)
    hot = [(i, [1.0] * 8) for i in range(480)]
    cold = [
        (1000 + i, [rng.uniform(-30, 30) for _ in range(8)]) for i in range(20)
    ]
    df = spark.createDataFrame(
        hot + cold, "vec_id long, embedding array<double>"
    )
    out = semantic_dedup(df, "vec_id", "embedding", k=None)
    flags = {r["vec_id"]: r["is_dup"] for r in out.collect()}
    assert flags[0] is False  # min-id twin is the keeper
    assert all(flags[i] for i in range(1, 480))  # every other twin pruned

    # The bound itself: reps per cluster after the collapse.
    assign = kmeans_int(df, "vec_id", "embedding", k=auto_k(500)).select(
        F.col("vec_id").alias("vid"), "cluster"
    )
    q = _quantize(df, "vec_id", "embedding", 1024)
    reps_per_cluster = (
        assign.join(q, "vid")
        .groupBy("cluster", "qv")
        .agg(F.min("vid"))
        .groupBy("cluster")
        .count()
        .collect()
    )
    assert max(r["count"] for r in reps_per_cluster) <= 21


def test_bucketed_fp_index_no_exchange(spark, sf_dir):
    """VERDICT r5 #2: the standing fingerprint index side of the
    incremental-ingest join must read its bucket layout as its
    partitioning — `Bucketed: true` in the scan and no Exchange above
    it. The relative check nails it: the SAME join against an
    unbucketed copy of the index must plan strictly MORE exchanges
    (the extra one being the index-side shuffle this layout deletes)."""
    from udacity_capstone_data_engineering_spark.queries import queries

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries()["incremental_ingest_dedup_bucketed"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        n_bucketed = plan.count("Exchange")

        # Control: identical join, index side NOT bucketed.
        control = queries()["incremental_ingest_dedup"](spark, sf_dir)
        cplan = control._jdf.queryExecution().executedPlan().toString()
        n_control = cplan.count("Exchange")
        assert n_bucketed < n_control, (n_bucketed, n_control)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_bucketed_fp_index_matches_inplan_variant(spark, sf_dir):
    """The materialize boundary is lossless: bucketed-index verdicts
    equal the in-plan variant row for row."""
    from udacity_capstone_data_engineering_spark.queries import queries

    rows = lambda name: sorted(
        tuple(r) for r in queries()[name](spark, sf_dir).collect()
    )
    assert rows("incremental_ingest_dedup_bucketed") == rows(
        "incremental_ingest_dedup"
    )


def test_kmeans_assign_regimes_bit_equal(spark, sf_dir):
    """The assign kernel — the one nearest-centroid path of both k-means
    regimes and of the SemDeDup screen — equals a pure-Python strict-<
    argmin over the same 80 centroids. The centroids are corpus
    vectors, so exact hits (dist 0) occur, and centroid 79 duplicates
    centroid 0, so every row nearest to it is a tie that must go to
    the smaller id."""
    from udacity_capstone_data_engineering_spark.operators.kmeans import (
        _assign_kernel,
        _quantize,
    )

    vecs = load_table(spark, sf_dir, "embeddings")
    q = _quantize(vecs, "vec_id", "embedding", 1024)
    cents = [list(r["qv"]) for r in q.orderBy("vid").limit(80).collect()]
    cents[-1] = list(cents[0])
    want = {}
    for r in q.collect():
        best = None
        for cid, cv in enumerate(cents):
            d = sum((a - b) * (a - b) for a, b in zip(r["qv"], cv))
            if best is None or d < best[0]:
                best = (d, cid)
        want[r["vid"]] = (best[1], best[0])
    got = {
        r["vid"]: (r["cluster"], r["dist_sq"])
        for r in _assign_kernel(q, cents, len(cents[0])).collect()
    }
    assert got == want
    assert (0, 0) in got.values()  # the tied exact hit went to centroid 0


def test_kmeans_int_kernel_regime_end_to_end(spark, sf_dir, monkeypatch):
    """kmeans_int at k=24 through the distributed loop (the assign
    kernel on every iteration and for the final assignment) equals a
    pure-Python replay of the recurrence."""
    import math

    from udacity_capstone_data_engineering_spark.operators import kmeans as km

    monkeypatch.setattr(km, "KMEANS_DRIVER_MAX_BYTES", 0)
    k = 24
    vecs = load_table(spark, sf_dir, "embeddings")
    rows = [(r["vec_id"], list(r["embedding"])) for r in vecs.collect()]
    q = {
        vid: [math.floor(float(x) * 1024 + 0.5) for x in vec]
        for vid, vec in rows
    }
    cents = [list(q[vid]) for vid in sorted(q)[:k]]

    def assign():
        out = {}
        for vid, qv in q.items():
            best = None
            for cid, cv in enumerate(cents):
                d = sum((a - b) * (a - b) for a, b in zip(qv, cv))
                if best is None or d < best[0]:
                    best = (d, cid)
            out[vid] = best
        return out

    for _ in range(2):
        a = assign()
        for cid in range(k):
            member = [q[vid] for vid, (_, c) in a.items() if c == cid]
            if member:
                n = len(member)
                cents[cid] = [
                    sum(m[i] for m in member) // n
                    for i in range(len(cents[cid]))
                ]
    want = {vid: (c, d) for vid, (d, c) in assign().items()}
    got = {
        r["vec_id"]: (r["cluster"], r["dist_sq"])
        for r in km.kmeans_int(
            vecs, "vec_id", "embedding", k=k, iterations=2
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Real image codec (VERDICT r5 #3)
# ---------------------------------------------------------------------------


def _checker_image(w=6, h=5):
    import numpy as np

    r, c = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    img = np.stack(
        [(r * 37 + c * 11) % 256, (r + c) % 256, (r * c * 7) % 256], axis=2
    )
    return img.astype(np.uint8)


def _encode_bmp(img, top_down=False) -> bytes:
    """Reference 24bpp BI_RGB encoder (independent of the decoder):
    BGR byte order, 4-byte row padding, bottom-up unless top_down."""
    import numpy as np

    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = img[:, :, ::-1]  # RGB -> BGR
    if not top_down:
        rows = rows[::-1]
    body = bytearray()
    for r in range(h):
        line = rows[r].astype(np.uint8).tobytes()
        body += line + b"\x00" * (stride - len(line))
    data_off = 54
    height_field = h if not top_down else -h
    header = (
        b"BM"
        + (data_off + len(body)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + height_field.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(body).to_bytes(4, "little")
        + b"\x00" * 16
    )
    assert len(header) == 54
    return bytes(header) + bytes(body)


def test_decode_image_ppm_roundtrip():
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
    )

    img = _checker_image()
    assert np.array_equal(decode_image(encode_ppm(img)), img)
    # header comments and multi-whitespace are legal P6
    with_comment = b"P6\n# a comment\n6 5\n# more\n255\n" + img.tobytes()
    assert np.array_equal(decode_image(with_comment), img)


def test_decode_image_bmp_padding_and_orientation():
    """Width 6 -> stride 20 (2 pad bytes/row): the decoder must strip
    padding, undo BGR, and flip bottom-up rows; top-down (negative
    height) decodes unflipped."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        decode_image,
    )

    img = _checker_image(w=6, h=5)
    assert np.array_equal(decode_image(_encode_bmp(img)), img)
    assert np.array_equal(decode_image(_encode_bmp(img, top_down=True)), img)


def test_decode_image_error_contract():
    import pytest

    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
    )

    img = _checker_image()
    with pytest.raises(ValueError):  # recognized format, truncated body
        decode_image(encode_ppm(img)[:-7])
    with pytest.raises(ValueError):
        decode_image(b"P6\n6 x\n255\n")
    with pytest.raises(ValueError):
        decode_image(_encode_bmp(img)[:40])
    with pytest.raises(NotImplementedError):  # needs a codec library
        decode_image(b"\x89PNG\r\n\x1a\n....")
    bmp8 = bytearray(_encode_bmp(img))
    bmp8[28:30] = (8).to_bytes(2, "little")  # 8bpp variant
    with pytest.raises(NotImplementedError):
        decode_image(bytes(bmp8))


def test_decode_image_stats_quarantine(spark):
    """One corrupt + one unsupported payload in a batch must quarantine
    (statusful null-stat rows), never fail the job; good payloads keep
    exact integer channel sums."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.multimodal import (
        decode_image_stats,
        encode_ppm,
    )

    img = _checker_image()
    good = encode_ppm(img)
    rows = [
        (1, bytearray(good)),
        (2, bytearray(good[:-5])),  # truncated -> corrupt
        (3, bytearray(b"\xff\xd8\xff\xe0 jpeg-ish")),  # -> unsupported
        (4, bytearray(_encode_bmp(img))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in decode_image_stats(df, "payload", "doc_id").collect()
    }
    sums = img.astype(np.int64).sum(axis=(0, 1))
    for did in (1, 4):
        assert out[did]["status"] == "ok"
        assert (out[did]["width"], out[did]["height"]) == (6, 5)
        assert (
            out[did]["r_sum"], out[did]["g_sum"], out[did]["b_sum"]
        ) == tuple(int(s) for s in sums)
    assert out[2]["status"] == "corrupt" and out[2]["r_sum"] is None
    assert out[3]["status"] == "unsupported" and out[3]["width"] is None


# ---------------------------------------------------------------------------
# Materializing quality pipeline (VERDICT r5 #6)
# ---------------------------------------------------------------------------


def test_quality_pipeline_plan_shape(spark, sf_dir):
    """The post-boundary plan of the manifest: (a) the kept stage
    prunes the materialized gate output at the PARTITION level on
    keep (no data filter — whole false shards are never opened);
    (b) exactly TWO exchanges downstream of the parquet boundary —
    dedup groupBy(fingerprint) + pack window(split, bucket); the
    manifest agg reuses the window's partitioning (its grouping keys
    are a superset of the hash-partitioning keys)."""
    import re

    from udacity_capstone_data_engineering_spark.queries import queries

    df = queries()["quality_pipeline_manifest"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "keep" in m.group(1), plan[:1500]
    assert re.search(r"DataFilters: \[\]", plan), "keep leaked to a data filter"
    assert plan.count("Exchange") == 2, plan


def test_quality_pipeline_manifest_consistent_with_gate(spark, sf_dir):
    """Cross-check the composition against its ingredient queries:
    total docs in the manifest == distinct fingerprints among kept
    docs, and every pack's token total is within budget + one doc's
    overflow (the contiguous-packing contract)."""
    from udacity_capstone_data_engineering_spark.functions.hashing import (
        portable_hash64,
    )
    from udacity_capstone_data_engineering_spark.queries import queries

    man = queries()["quality_pipeline_manifest"](spark, sf_dir).collect()
    gate = queries()["full_quality_gate"](spark, sf_dir)
    kept_ids = {r["doc_id"] for r in gate.collect() if r["keep"]}
    docs = load_table(spark, sf_dir, "documents")
    n_fp = (
        docs.filter(F.col("doc_id").isin(list(kept_ids)))
        .select(portable_hash64(F.col("text")).alias("fp"))
        .distinct()
        .count()
    )
    assert sum(r["n_docs"] for r in man) == n_fp
    # The exact contiguous-packing invariant: a pack's id equals
    # floor(tokens-before-it-in-the-bucket / budget) — checkable from
    # the manifest alone since packs are contiguous by doc order.
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for r in man:
        assert r["n_docs"] >= 1 and r["pack_tokens"] >= 1
        by_bucket[(r["split"], r["bucket"])].append(
            (r["pack_id"], r["pack_tokens"])
        )
    for packs in by_bucket.values():
        prefix = 0
        for pack_id, tokens_ in sorted(packs):
            assert prefix // 500 == pack_id, (packs, prefix)
            prefix += tokens_
    assert {r["split"] for r in man} <= {"train", "valid", "test"}


def test_semantic_dedup_autok_pair_join_cluster_keyed(spark, sf_dir):
    """The auto-k row keeps the SemDeDup scale property: the pair
    stage is an equi-join on the cluster id, never a cartesian."""
    from udacity_capstone_data_engineering_spark.queries import queries

    df = queries()["semantic_dedup_autok"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-6 breadth tier: JL projection, MAD outliers, skew profile,
# power iteration
# ---------------------------------------------------------------------------


def test_jl_projection_preserves_distances(spark, sf_dir):
    """The point of JL: pairwise distances survive the 64 -> 16
    projection up to (1 ± eps). Checked statistically on a sample —
    the median distortion ratio (after the 1/sqrt(m) normalization)
    must sit near 1, and the projection must be a deterministic pure
    function (two runs bit-equal)."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.queries import queries

    run = lambda: sorted(
        tuple(r)
        for r in queries()["embedding_random_projection"](
            spark, sf_dir
        ).collect()
    )
    rows = run()
    assert rows == run()  # deterministic
    by_vec: dict[int, dict[int, int]] = {}
    for vid, j, p in rows:
        by_vec.setdefault(vid, {})[j] = p
    ids = sorted(by_vec)[:40]
    proj = np.array(
        [[by_vec[v][j] for j in range(16)] for v in ids], dtype=np.float64
    )
    import duckdb

    raw = {
        r[0]: np.array(r[1], dtype=np.float64) * 1024
        for r in duckdb.sql(
            f"SELECT vec_id, embedding FROM "
            f"'{TEST_SF}/embeddings.parquet' WHERE vec_id <= {max(ids)}"
        ).fetchall()
        if r[0] in set(ids)
    }
    ratios = []
    for a in range(0, len(ids), 7):
        for b in range(a + 1, len(ids), 5):
            dr = np.linalg.norm(raw[ids[a]] - raw[ids[b]])
            dp = np.linalg.norm(proj[a] - proj[b]) / np.sqrt(16.0)
            if dr > 0:
                ratios.append(dp / dr)
    med = float(np.median(ratios))
    assert 0.7 <= med <= 1.3, med


def test_mad_outliers_fixture(spark):
    """Hand fixture: one wild outlier among tame values — the fence
    must flag exactly it, and the mean-dragging pathology must not
    move the median/MAD."""
    from udacity_capstone_data_engineering_spark.queries_phase11 import (
        event_value_outliers_mad,
    )

    # monkeypatch load_table via a temp parquet dir shaped like events
    import tempfile

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 1000.0]
    df = spark.createDataFrame(
        [(i, "click", v, "2024-01-01 00:00:00") for i, v in enumerate(vals)],
        "event_id long, event_type string, value double, ts_s string",
    ).select(
        "event_id",
        "event_type",
        "value",
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    d = tempfile.mkdtemp(prefix="mad_fixture_")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {
        r["event_type"]: r
        for r in event_value_outliers_mad(spark, d).collect()
    }
    row = out["click"]
    assert row["n_events"] == 8
    assert row["median"] == 13.0  # lower median of 8 values
    assert row["mad"] == 2.0  # |10..1000 - 13| sorted: 0,1,1,2,2,3,3,987
    assert row["n_outliers"] == 1  # only the 1000.0


def test_skew_profile_topk_plan(spark, sf_dir):
    """The profiler must be one aggregation + TakeOrderedAndProject —
    never a global sort of the key-frequency relation."""
    from udacity_capstone_data_engineering_spark.queries import queries

    df = queries()["join_key_skew_profile"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert len(rows) <= 20
    assert rows == sorted(rows, key=lambda r: (-r["cnt"], r["key"]))
    # the heaviest key is at least the mean key frequency by definition
    assert rows[0]["x_mean_permille"] >= 1000
    # exact-share cross-check against duckdb
    import duckdb

    want_cnt, want_key = duckdb.sql(
        f"SELECT cnt, l_partkey FROM (SELECT l_partkey, count(*) AS cnt "
        f"FROM '{TEST_SF}/lineitem.parquet' GROUP BY 1) "
        "ORDER BY cnt DESC, l_partkey LIMIT 1"
    ).fetchone()
    assert (rows[0]["cnt"], rows[0]["key"]) == (want_cnt, want_key)
