"""Second-decade standing-index serve measurement (VERDICT r9 #3).

Round 9 built the persisted IVF-PQ index to delete the ~10 min/call
re-paid fit the r8 sf10 probe measured at 200k vectors — but the serve
path was only equivalence-tested at gate scales. This probe measures
the actual sf10 cell: a 20k-query workload (vec_id % 10 == 0, the
fixed-batch second-decade protocol) against the 200k-vector corpus,

  - ``build``  : build_ann_index wall (the once-per-corpus cost),
  - ``serve``  : ann_topk_against_index wall (the per-batch cost users
                 pay — loads artifacts, fits NOTHING),
  - ``inline`` : ivfpq_topk wall on the same workload (re-pays the
                 centroid + codebook fits and the corpus encode),

interleaved serve-then-inline in one process (SCALING.md contention
protocol), each with recall@5 against the exact ground truth
restricted to the workload's query ids (the sf10_probe npy cache).

Usage: python scripts/sf10_standing_serve.py [--skip-truth]
Writes one JSON line; paste the row into SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts import sf1_probe  # noqa: E402
from scripts.sf10_probe import SF10, exact_topk_fast  # noqa: E402

IDX = "/tmp/sf10_standing_idx"


def main() -> None:
    from pyspark.sql import functions as F

    from udacity_capstone_data_engineering_spark import get_spark
    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        ann_topk_against_index,
        build_ann_index,
    )
    from udacity_capstone_data_engineering_spark.operators.pq import (
        ivfpq_topk,
    )

    if not os.path.exists(f"{SF10}/embeddings.parquet"):
        sf1_probe.generate(dst=SF10, vec_mult=100, doc_mult=100)

    truth = None
    if "--skip-truth" not in sys.argv:
        truth = exact_topk_fast(SF10, k=5)

    spark = get_spark(shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF10}/embeddings.parquet")
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    qids = {r[0] for r in batch.select("vec_id").collect()}

    def recall(pairs) -> float | None:
        if truth is None:
            return None
        t = {(a, b) for a, b in truth if a in qids}
        got = {(r.query_id, r.neighbor_id) for r in pairs}
        return round(len(t & got) / len(t), 4)

    out: dict = {"n": emb.count(), "n_queries": len(qids), "sf": "sf10"}

    shutil.rmtree(IDX, ignore_errors=True)
    t0 = time.perf_counter()
    build_ann_index(emb, "vec_id", "embedding", 64, IDX)
    out["build_wall_s"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    served = ann_topk_against_index(
        emb, "vec_id", "embedding", IDX, k=5, queries=batch
    ).collect()
    out["serve_wall_s"] = round(time.perf_counter() - t0, 1)
    out["serve_recall@5"] = recall(served)

    t0 = time.perf_counter()
    inline = ivfpq_topk(
        emb, "vec_id", "embedding", dim=64, k=5, queries=batch
    ).collect()
    out["inline_wall_s"] = round(time.perf_counter() - t0, 1)
    out["inline_recall@5"] = recall(inline)

    out["serve_equals_inline"] = sorted(
        (r.query_id, r.neighbor_id, r.rnk) for r in served
    ) == sorted((r.query_id, r.neighbor_id, r.rnk) for r in inline)
    out["fit_saving_s"] = round(
        out["inline_wall_s"] - out["serve_wall_s"], 1
    )
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
