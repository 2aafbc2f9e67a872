"""Fourth-decade ANN spot probe — 8M vectors (VERDICT r10 #4).

The third decade (``sf100_probe.py``, 2M) measured the broadcast-codes
regime and moved the LSH dispatch boundary; the remaining extrapolated
claim is the dispatch table's "codes stay broadcast to ~16M vectors at
m=8" rationale and, past it, the cell-packed sharded grid
(``pq._sharded_cell_candidates`` — rewritten in r11 precisely because
the r4 shard-per-cell design would have flooded the merge window with
nq·probe_fraction·n rows at this decade). This probe measures BOTH
regimes on the SAME 8M cell: the natural broadcast plan (codes 128 MiB
≤ the 256 MiB cap), and the packed-shard grid forced by a 64 MiB cap —
the exact plan a 16M+ corpus takes naturally, at a scale where a
regime failure shows up as spill/wall, not unit-test rows.

Protocol (third-decade rules, adapted): FIXED 500-query batch
(vec_id % 16000 == 0) — per-query ADC cost is corpus-linear, so at 4×
the corpus the 2k-query batch would measure nothing new about the
regime while quadrupling the wall; per-query cost is reported
alongside wall. Recall@5 against an exact chunked-numpy truth
restricted to the batch (pyarrow flatten — a fetchall of 8M list rows
would burn tens of GB of Python objects).

Usage: python scripts/sf1000_probe.py [cell ...]
       (default: ivfpq ivfpq_sharded; also available: pq)
Writes one JSON line per cell; paste into SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts import sf1_probe  # noqa: E402

SF1000 = "/tmp/sf1000_synth"
QUERY_MOD = 16000  # 500 of 8M
VEC_MULT = 4000  # 4000 × sf0.1's 2k embeddings = 8M
FORCED_CAP = 64 * 1024 * 1024  # forces the packed-shard grid at 8M


def _load_matrix(path: str):
    """(ids, unit_matrix) via pyarrow — flatten the list column
    straight into one contiguous float64 block."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{path}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy().astype(np.int64)
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    mat = np.asarray(flat, dtype=np.float64).reshape(len(ids), -1)
    norms = np.linalg.norm(mat, axis=1)
    keep = norms > 0
    return ids[keep], mat[keep] / norms[keep][:, None]


def exact_topk_for_queries(path: str, qmod: int, k: int = 5):
    """Exact cosine top-k for the query batch only (chunked corpus
    axis; the sf100 protocol)."""
    cache = f"{path}/truth_q{qmod}_k{k}.npy"
    if os.path.exists(cache):
        return {(int(a), int(b)) for a, b in np.load(cache)}
    ids, mat = _load_matrix(path)
    qmask = ids % qmod == 0
    qids, qmat = ids[qmask], mat[qmask]
    pad = 16
    cand_ids = [[] for _ in range(len(qids))]
    cand_sc = [[] for _ in range(len(qids))]
    chunk = 200_000
    for s in range(0, len(ids), chunk):
        block = qmat @ mat[s : s + chunk].T
        w = min(k + pad, block.shape[1])
        top = np.argpartition(-block, w - 1, axis=1)[:, :w]
        for qi in range(len(qids)):
            cand_ids[qi].append(ids[s : s + chunk][top[qi]])
            cand_sc[qi].append(block[qi][top[qi]])
    truth: set[tuple[int, int]] = set()
    for qi in range(len(qids)):
        ci = np.concatenate(cand_ids[qi])
        cs = np.concatenate(cand_sc[qi])
        self_m = ci == qids[qi]
        cs[self_m] = -np.inf
        order = np.lexsort((ci, -cs))[:k]
        truth.update((int(qids[qi]), int(ci[j])) for j in order)
    np.save(cache, np.array(sorted(truth), dtype=np.int64))
    return truth


def main() -> None:
    from pyspark.sql import functions as F

    from udacity_capstone_data_engineering_spark import get_spark
    from udacity_capstone_data_engineering_spark.operators.pq import (
        ivfpq_topk,
        pq_topk,
        rerank_budget,
    )

    cells = [a for a in sys.argv[1:] if not a.startswith("-")] or [
        "ivfpq",
        "ivfpq_sharded",
    ]
    if not os.path.exists(f"{SF1000}/embeddings.parquet"):
        sf1_probe.generate(dst=SF1000, vec_mult=VEC_MULT, embeddings_only=True)
    t0 = time.perf_counter()
    truth = exact_topk_for_queries(SF1000, QUERY_MOD, k=5)
    print(
        json.dumps({"truth_wall_s": round(time.perf_counter() - t0, 1)}),
        flush=True,
    )

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark(shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF1000}/embeddings.parquet")
    n = emb.count()
    batch = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    qids = {r[0] for r in batch.select("vec_id").collect()}
    t_batch = {(a, b) for a, b in truth if a in qids}

    fns = {
        "ivfpq": lambda: ivfpq_topk(
            emb, "vec_id", "embedding", dim=64, k=5, queries=batch
        ),
        "ivfpq_sharded": lambda: ivfpq_topk(
            emb, "vec_id", "embedding", dim=64, k=5, queries=batch,
            max_broadcast_bytes=FORCED_CAP,
        ),
        "pq": lambda: pq_topk(
            emb, "vec_id", "embedding", dim=64, k=5, queries=batch
        ),
    }
    for cell in cells:
        t0 = time.perf_counter()
        got = {(r.query_id, r.neighbor_id) for r in fns[cell]().collect()}
        wall = round(time.perf_counter() - t0, 1)
        rec = round(len(t_batch & got) / len(t_batch), 4)
        print(
            json.dumps(
                {
                    "cell": cell,
                    "n": n,
                    "n_queries": len(qids),
                    "wall_s": wall,
                    "per_query_ms": round(1000 * wall / len(qids), 1),
                    "recall@5": rec,
                    "rerank_at_09": rerank_budget(n, 5, 0.9),
                    "index_mib_at_m8": round(n * 16 / 2**20, 1),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
