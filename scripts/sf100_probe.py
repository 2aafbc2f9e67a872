"""Third-decade ANN spot probe — 2M vectors (VERDICT r9 #5).

Every auto-knob law is measured to 200k and extrapolated past it:
``auto_lsh_tables`` caps at 32 tables (~2M vectors, the documented
LSH→IVF/IVF-PQ handoff), ``rerank_budget`` follows the √n iso-recall
contour, centroids grow as sqrt(n). This probe spot-checks the third
decade at the cap itself: 2,000,000 synthetic vectors from the same
fitted-distribution generator as sf1/sf10 (``sf1_probe.generate``,
vec_mult=1000, embeddings only).

Protocol: FIXED 2,000-query batch (vec_id % 1000 == 0) — the
second-decade grid used 20k queries; at 2M corpus a 20k-query ADC scan
is ~10× the sf10 wall and measures nothing new, so this decade holds
the batch at 2k and reports per-query cost alongside wall. Recall@5 is
graded against an exact chunked-numpy truth restricted to the batch.

Default cells: ivfpq (auto), pq (at its 0.95 default target) — both
in the broadcast-codes regime (32 MiB at 2M). The lsh cell is
SELECTABLE but not default, and its first run IS the probe's headline
finding (r10): at 2M the raw matrix (1 GiB) is past the 256 MiB
broadcast cap, so LSH drops to its bucket-JOIN path, whose
pair-scoring join ships unit vectors instead of ids — measured >60 GB
of shuffle spill at 2k queries before exhausting local disk. That
measurement moved the dispatch facade's LSH handoff from the 32-table
recall cap (~2M) to the broadcast byte cap (~500k at dim 64):
``operators/ann.py:_lsh_kernel_max_n``.

Usage: python scripts/sf100_probe.py [cell ...]   (default: ivfpq pq)
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

SF100 = "/tmp/sf100_synth"
QUERY_MOD = 1000  # 2k of 2M


def exact_topk_for_queries(path: str, qmod: int, k: int = 5):
    """Exact cosine top-k for the query batch only, corpus-chunked so
    the score block stays bounded (2k × 200k float64 = 3.2 GiB): per
    chunk keep each query's top-(k+pad) candidates, then one exact
    (-cos, id) lexsort of the gathered candidates per query. pad covers
    kth-score ties within a chunk; cross-chunk members are all kept."""
    import duckdb

    cache = f"{path}/truth_q{qmod}_k{k}.npy"
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
    qmask = ids % qmod == 0
    qids, qmat = ids[qmask], mat[qmask]
    pad = 16
    cand_ids = [[] for _ in range(len(qids))]
    cand_sc = [[] for _ in range(len(qids))]
    chunk = 200_000
    for s in range(0, len(ids), chunk):
        block = qmat @ mat[s : s + chunk].T  # (q, chunk)
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
    )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        auto_lsh_tables,
        lsh_topk,
    )

    cells = [a for a in sys.argv[1:] if not a.startswith("-")] or [
        "ivfpq",
        "pq",
    ]
    if not os.path.exists(f"{SF100}/embeddings.parquet"):
        sf1_probe.generate(
            dst=SF100, vec_mult=1000, embeddings_only=True
        )
    truth = exact_topk_for_queries(SF100, QUERY_MOD, k=5)

    spark = get_spark(shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF100}/embeddings.parquet")
    n = emb.count()
    batch = emb.filter(F.col("vec_id") % QUERY_MOD == 0)
    qids = {r[0] for r in batch.select("vec_id").collect()}
    t_batch = {(a, b) for a, b in truth if a in qids}

    fns = {
        "lsh": lambda: lsh_topk(
            emb, "vec_id", "embedding", dim=64, k=5, queries=batch
        ),
        "ivfpq": lambda: ivfpq_topk(
            emb, "vec_id", "embedding", dim=64, k=5, queries=batch
        ),
        "pq": lambda: pq_topk(
            emb, "vec_id", "embedding", dim=64, k=5, queries=batch
        ),
    }
    for cell in cells:
        t0 = time.perf_counter()
        got = {
            (r.query_id, r.neighbor_id) for r in fns[cell]().collect()
        }
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
                    "lsh_tables_at_n": auto_lsh_tables(n),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
