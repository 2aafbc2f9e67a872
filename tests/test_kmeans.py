"""Exact-integer k-means tests (`operators/kmeans.py`): pure-Python
recurrence replay, partitioning bit-invariance, and assignment
consistency — the same gate battery as `pagerank_fixed`."""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.kmeans import (
    kmeans_int,
)
from udacity_capstone_data_engineering_spark.sources.catalog import load_table


def _python_replay(rows, k, iterations, scale):
    """The recurrence in plain Python over (vid, [floats])."""
    import math

    q = {
        vid: [math.floor(float(x) * scale + 0.5) for x in vec]
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

    for _ in range(iterations):
        a = assign()
        for cid in range(k):
            member = [q[vid] for vid, (_, c) in a.items() if c == cid]
            if not member:
                continue
            n = len(member)
            cents[cid] = [
                sum(m[i] for m in member) // n for i in range(len(cents[cid]))
            ]
    return {vid: (c, d) for vid, (d, c) in assign().items()}


def test_matches_python_recurrence(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    rows = [(r["vec_id"], list(r["embedding"])) for r in vecs.collect()]
    want = _python_replay(rows, k=4, iterations=3, scale=1024)
    got = {
        r["vec_id"]: (r["cluster"], r["dist_sq"])
        for r in kmeans_int(vecs, "vec_id", "embedding").collect()
    }
    assert got == want


def test_partitioning_bit_invariance(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    a = kmeans_int(vecs, "vec_id", "embedding").collect()
    b = kmeans_int(vecs.repartition(17), "vec_id", "embedding").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_clusters_nontrivial_and_consistent(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    out = kmeans_int(vecs, "vec_id", "embedding")
    used = out.select("cluster").distinct().count()
    assert used >= 2
    assert out.where(F.col("dist_sq") < 0).count() == 0
    assert out.count() == vecs.count()


def test_kmeans_driver_regime_bit_equal(spark, sf_dir, monkeypatch):
    """r12: under the byte/work caps the whole Lloyd recurrence runs
    driver-side in numpy int64 (1 collect instead of 2+iterations job
    barriers). Exact integers make the regimes bit-equal — assignment
    rows AND final centroids — at k=4 and k=32."""
    from udacity_capstone_data_engineering_spark.operators import kmeans as km

    vecs = load_table(spark, sf_dir, "embeddings")
    for k in (4, 32):
        c_driver: list = []
        c_dist: list = []
        a = kmeans_int(
            vecs, "vec_id", "embedding", k=k, _cents_out=c_driver
        ).collect()
        monkeypatch.setattr(km, "KMEANS_DRIVER_MAX_BYTES", 0)
        b = kmeans_int(
            vecs, "vec_id", "embedding", k=k, _cents_out=c_dist
        ).collect()
        monkeypatch.undo()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert c_driver == c_dist


def _degenerate_corpora():
    """``{name: (rows, ids whose cluster must be NULL)}`` over 4-d
    vectors. ``base`` has 42 distinct ids; the degenerate rows are a
    NULL vector, a NULL element, a short and a long vector (all outside
    the fit) and a NaN element (quantized to 0, an ordinary member);
    ``inf element`` adds a +inf and a -inf element (outside the fit)."""
    import random

    rnd = random.Random(11)
    base = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(4)])
        for i in range(1, 43)
    ]
    bad = [
        (100, None),
        (101, [0.5, None, 0.0, 0.1]),
        (102, [0.5, 0.5]),
        (103, [0.1, 0.2, 0.3, 0.4, 0.5]),
    ]
    return {
        "degenerate": (
            base + bad + [(104, [float("nan"), 0.2, 0.3, 0.4])],
            {100, 101, 102, 103},
        ),
        # ids 1 and 2, among the k smallest, each hold two vectors
        # a ±inf element would quantize to ±(2^63-1) and wrap the L2
        "inf element": (
            base
            + [
                (105, [float("inf"), 0.2, 0.3, 0.4]),
                (106, [0.1, float("-inf"), 0.3, 0.4]),
            ],
            {105, 106},
        ),
        "duplicate id": (base + [(1, [0.9] * 4), (2, [-0.9] * 4)], set()),
        "empty": ([], set()),
        "one row": (base[:1], set()),
        "n < k": (base[:3], set()),
    }


def test_kmeans_degenerate_inputs(spark, monkeypatch, tmp_path):
    """Both regimes (the default caps, and KMEANS_DRIVER_MAX_BYTES = 0)
    and partitionings 1, 3 and 7 agree on rows and centroids at k=4 and
    k=24 over degenerate corpora (one update round: the ragged rows
    reach the update aggregate and the final assignment), and
    cluster/dist_sq are NULL exactly on the rows outside the fit. The
    incremental SemDeDup screen of the degenerate batch equals the
    persisted index's build + serve."""
    from udacity_capstone_data_engineering_spark.operators import kmeans as km
    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        build_semantic_index,
        semantic_dedup_against_index,
        semantic_dedup_incremental,
    )

    schema = "vec_id long, embedding array<double>"
    corpora = _degenerate_corpora()
    for name, (rows, null_ids) in corpora.items():
        df = spark.createDataFrame(rows, schema)
        for k in (4, 24):
            runs = []
            for cap in (km.KMEANS_DRIVER_MAX_BYTES, 0):
                monkeypatch.setattr(km, "KMEANS_DRIVER_MAX_BYTES", cap)
                for parts in (1, 3, 7):
                    cents: list = []
                    out = km.kmeans_int(
                        df.repartition(parts), "vec_id", "embedding", k=k,
                        iterations=1, _cents_out=cents,
                    ).collect()
                    runs.append((sorted(map(tuple, out), key=repr), cents))
            monkeypatch.undo()
            assert all(r == runs[0] for r in runs), (name, k)
            got, cents = runs[0]
            assert len(got) == len(rows), (name, k)
            assert {v for v, c, _ in got if c is None} == null_ids, (name, k)
            assert all((c is None) == (d is None) for _, c, d in got)
            assert len(cents) == min(k, len(rows) - len(null_ids))

    standing = spark.createDataFrame(corpora["duplicate id"][0], schema)
    batch_rows = corpora["degenerate"][0][40:] + [(200, [0.9] * 4)]
    batch = spark.createDataFrame(batch_rows, schema)
    path = str(tmp_path / "sem_index")
    for k in (4, 24):
        inproc = semantic_dedup_incremental(
            standing, batch, "vec_id", "embedding", k=k
        ).collect()
        build_semantic_index(standing, "vec_id", "embedding", path, k=k)
        served = semantic_dedup_against_index(
            spark, batch, "vec_id", "embedding", path
        ).collect()
        assert sorted(map(tuple, inproc), key=repr) == sorted(
            map(tuple, served), key=repr
        )
        flags = {r["vec_id"]: (r["cluster"], r["is_dup"]) for r in inproc}
        assert {v for v, (c, _) in flags.items() if c is None} == {
            100, 101, 102, 103
        }
        assert flags[200][1] and flags[41][1]  # twins of standing rows
        assert not any(dup for c, dup in flags.values() if c is None)
