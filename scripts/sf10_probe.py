"""Second-decade scale probe for the dedup/ANN tier (VERDICT r5 #5).

The r5 scaling ladder measured sf0.1 -> sf1 (2k -> 20k vectors, 5k ->
50k docs); the ANN regime crossovers were tuned at <= 20k vectors.
This probe extends the MEASURED ladder one more decade — 200k vectors
and 500k documents (sf10-equivalent for embeddings/documents only),
synthesized by the same fitted-distribution generator as sf1
(`sf1_probe.generate`, vec/doc multipliers 100) — and records, per
kernel: wall, recall@5 against an exact chunked-numpy ground truth,
and WHICH REGIME the auto-switch landed in (broadcast/kernel vs
join/shard, classified by the operators' own byte thresholds).

SemDeDup runs at its round-6 production shape: auto-k (k = n/64 =
3125 here), past the k-means driver caps, so every Lloyd assignment
runs the broadcast Arrow kernel (`kmeans._assign_kernel`) — this
probe is that path's scale gate.

Walls are taken INTERLEAVED sf1-then-sf10 per kernel (SCALING.md
contention protocol) so each decade exponent log10(t10/t1) is
drift-resistant.

Usage: python scripts/sf10_probe.py [--regen] [--docs-only|--ann-only]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts import sf1_probe  # noqa: E402

SF10 = "/tmp/sf10_synth"
SF1 = sf1_probe.SF1


def exact_topk_fast(path: str, k: int = 5) -> set[tuple[int, int]]:
    """Exact cosine top-k ground truth at 200k rows: argpartition for
    the candidate cut (full per-row lexsort is ~70 min at this n),
    then an exact (-cos, id) lexsort of just the candidates — including
    EVERY tie of the kth score, so tie handling matches the engine's
    total order bit-for-bit."""
    import duckdb

    cache = f"{path}/truth_k{k}.npy"
    if os.path.exists(cache):
        return {(int(a), int(b)) for a, b in np.load(cache)}

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{path}/embeddings.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    keep = norms > 0
    ids, mat = ids[keep], mat[keep] / norms[keep][:, None]
    n = len(ids)
    truth: set[tuple[int, int]] = set()
    for s in range(0, n, 1024):
        block = mat[s : s + 1024] @ mat.T  # (b, n) float64
        for bi in range(block.shape[0]):
            i = s + bi
            row = block[bi]
            row[i] = -np.inf
            kth = np.partition(-row, k - 1)[k - 1]
            # every index scoring >= kth (ties included), exact order
            cand = np.nonzero(row >= -kth)[0]
            order = cand[np.lexsort((ids[cand], -row[cand]))][:k]
            truth.update((int(ids[i]), int(ids[j])) for j in order)
    np.save(cache, np.array(sorted(truth), dtype=np.int64))
    return truth


def classify_regimes(n: int, dim: int = 64) -> dict[str, str]:
    """Which regime each kernel's auto-switch picks at this corpus
    size, from the operators' own byte thresholds (IVF's past its
    pair-join candidate volume, which every probed decade is)."""
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        BROADCAST_SCORE_MAX_BYTES,
    )

    raw = n * dim * 8
    return {
        "lsh": (
            "broadcast-index-kernel"
            if raw <= BROADCAST_SCORE_MAX_BYTES
            else "sharded-grid"
        ),
        "ivf": (
            "broadcast-in-udf-scan"
            if n * (8 + 8 * dim) <= BROADCAST_SCORE_MAX_BYTES
            else "cell-sharded-grid"
        ),
        "pq": (
            "broadcast-adc"
            if n * 16 <= BROADCAST_SCORE_MAX_BYTES
            else "cell-sharded-adc"
        ),
        "ivfpq": (
            "broadcast-adc"
            if n * 16 <= BROADCAST_SCORE_MAX_BYTES
            else "cell-sharded-adc"
        ),
        "_note": f"raw={raw >> 20}MiB codes={(n * 16) >> 20}MiB "
        f"score_cap={BROADCAST_SCORE_MAX_BYTES >> 20}MiB",
    }


def probe_ann(spark, out: dict) -> None:
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
    from udacity_capstone_data_engineering_spark.operators.pq import (
        ivfpq_topk,
        pq_topk,
    )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        lsh_topk,
    )

    kernels = {
        "lsh": lambda emb: lsh_topk(emb, "vec_id", "embedding", dim=64, k=5),
        "ivf": lambda emb: ivf_topk(emb, "vec_id", "embedding", k=5),
        "pq": lambda emb: pq_topk(emb, "vec_id", "embedding", dim=64, k=5),
        "ivfpq": lambda emb: ivfpq_topk(emb, "vec_id", "embedding", dim=64, k=5),
    }
    truths = {}
    for tag, sf_dir in (("sf1", SF1), ("sf10", SF10)):
        t0 = time.monotonic()
        truths[tag] = exact_topk_fast(sf_dir)
        print(
            json.dumps(
                {"ground_truth": tag, "sec": round(time.monotonic() - t0, 1)}
            ),
            flush=True,
        )
    for name, fn in kernels.items():
        walls = {}
        for tag, sf_dir in (("sf1", SF1), ("sf10", SF10)):
            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            t0 = time.monotonic()
            got = {(r.query_id, r.neighbor_id) for r in fn(emb).collect()}
            walls[tag] = round(time.monotonic() - t0, 1)
            rec = len(truths[tag] & got) / len(truths[tag])
            out[f"{tag}:{name}"] = {"recall@5": round(rec, 4), "sec": walls[tag]}
            print(json.dumps({tag: name, **out[f"{tag}:{name}"]}), flush=True)
        out[f"exp:{name}"] = round(
            math.log10(max(walls["sf10"], 1e-3) / max(walls["sf1"], 1e-3)), 2
        )


def probe_semdedup(spark, out: dict) -> None:
    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        auto_k,
        semantic_dedup,
    )

    walls = {}
    for tag, sf_dir in (("sf1", SF1), ("sf10", SF10)):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        t0 = time.monotonic()
        res = semantic_dedup(emb, "vec_id", "embedding", k=None)
        n_dup = res.filter("is_dup").count()
        walls[tag] = round(time.monotonic() - t0, 1)
        out[f"{tag}:semdedup_autok"] = {
            "n": n,
            "k": auto_k(n),
            "n_dup": n_dup,
            "sec": walls[tag],
        }
        print(json.dumps({tag: "semdedup_autok", **out[f"{tag}:semdedup_autok"]}), flush=True)
    out["exp:semdedup_autok"] = round(
        math.log10(max(walls["sf10"], 1e-3) / max(walls["sf1"], 1e-3)), 2
    )


DOC_QUERIES = [
    "exact_dedup_docs",
    "near_dup_collapsed",
    "near_dup_minhash_lsh",
    "doc_fingerprints",
    "simhash_docs",
]


def probe_docs(spark, out: dict) -> None:
    from udacity_capstone_data_engineering_spark.queries import queries

    qs = queries()
    for qname in DOC_QUERIES:
        walls = {}
        for tag, sf_dir in (("sf1", SF1), ("sf10", SF10)):
            t0 = time.monotonic()
            qs[qname](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls[tag] = round(time.monotonic() - t0, 1)
            out[f"{tag}:{qname}"] = {"sec": walls[tag]}
            print(json.dumps({tag: qname, "sec": walls[tag]}), flush=True)
        out[f"exp:{qname}"] = round(
            math.log10(max(walls["sf10"], 1e-3) / max(walls["sf1"], 1e-3)), 2
        )


def main() -> None:
    if "--regen" in sys.argv or not os.path.exists(f"{SF10}/documents.parquet"):
        sf1_probe.generate(dst=SF10, vec_mult=100, doc_mult=100)
    if not os.path.exists(f"{SF1}/documents.parquet"):
        sf1_probe.generate()
    from udacity_capstone_data_engineering_spark import get_spark

    spark = get_spark(shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    try:
        out["load1"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    out["regimes_sf10"] = classify_regimes(200_000)
    if "--docs-only" not in sys.argv:
        probe_ann(spark, out)
        probe_semdedup(spark, out)
    if "--ann-only" not in sys.argv:
        probe_docs(spark, out)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
