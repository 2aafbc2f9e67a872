"""JL capture on a LOW-INTRINSIC-DIMENSION corpus (VERDICT r7 #7).

The r7 sweep measured end-to-end JL capture on the test embeddings —
isotropic-random vectors, JL's worst case by construction (top-5
margins are O(1/sqrt(dim)) near-ties) — and honestly recorded 0.48 @
16d. This sweep measures the SAME metric on the fixture the hook
exists for: `manifold_embeddings`, an exact 8-d linear manifold inside
R^64 (md5-deterministic), the structure real embedding corpora have.

Metric per out_dims d': capture = |top5_exact64 ∩ C| / |top5_exact64|
  where C is (a) the exact top-50 in the d'-projected space
  ("proj_top50", the projection's own ceiling) and (b) the LSH top-50
  computed ON the projected vectors ("lsh_top50", the full hook
  path a serving pipeline would run).

Usage: python scripts/jl_manifold_sweep.py [sf_dir] [n_ids]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from udacity_capstone_data_engineering_spark import get_spark  # noqa: E402
from udacity_capstone_data_engineering_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    jl_project,
    lsh_topk,
    manifold_embeddings,
)


def capture(exact, cand) -> float:
    hits = exact.join(
        cand.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    return hits / exact.count()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    ids = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
    if len(sys.argv) > 2:
        ids = ids.filter(F.col("vec_id") < int(sys.argv[2]))
    man = manifold_embeddings(ids, "vec_id").localCheckpoint(eager=True)
    exact5 = (
        brute_force_topk(man, "vec_id", "embedding", k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n = ids.count()
    for d in (16, 32, 48):
        t0 = time.monotonic()
        proj = jl_project(man, "vec_id", "embedding", d).localCheckpoint(
            eager=True
        )
        proj_c = capture(
            exact5,
            brute_force_topk(proj, "vec_id", "embedding", k=50),
        )
        lsh_c = capture(
            exact5, lsh_topk(proj, "vec_id", "embedding", dim=d, k=50)
        )
        print(
            json.dumps(
                {
                    "corpus": "manifold8",
                    "n": n,
                    "out_dims": d,
                    "proj_top50_capture": round(proj_c, 4),
                    "lsh_top50_capture": round(lsh_c, 4),
                    "sec": round(time.monotonic() - t0, 1),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
