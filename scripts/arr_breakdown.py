"""Break ann_recall_report into its per-method branches and time each
one with the noop sink (guide §1.1: find where the time goes before
changing anything)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark import get_spark
from udacity_capstone_data_engineering_spark.queries.retrieval import (
    load_ann_exact_truth,
)
from udacity_capstone_data_engineering_spark.sources.catalog import load_table


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
    from udacity_capstone_data_engineering_spark.operators.pq import (
        ivfpq_topk,
        pq_topk,
    )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        jl_project,
        lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact, exact_jl = load_ann_exact_truth(spark, sf_dir)
    proj = jl_project(emb, "vec_id", "embedding", 16).localCheckpoint(eager=True)

    import os as _os

    from udacity_capstone_data_engineering_spark.operators.ann_index import (
        ann_topk_against_index,
        build_ann_index,
    )
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        artifact_base,
    )

    standing_base = artifact_base(spark, sf_dir, "ann_index")
    if not _os.path.exists(_os.path.join(standing_base, "meta")):
        build_ann_index(emb, "vec_id", "embedding", 64, standing_base, m=8, ksub=256)

    methods = {
        "lsh": lambda: lsh_topk(emb, "vec_id", "embedding", dim=64, k=5),
        "ivf": lambda: ivf_topk(emb, "vec_id", "embedding", k=5, n_centroids=16, nprobe=12),
        "pq": lambda: pq_topk(emb, "vec_id", "embedding", dim=64, k=5),
        "ivfpq": lambda: ivfpq_topk(emb, "vec_id", "embedding", dim=64, k=5, n_centroids=16, nprobe=12),
        "ivf_auto": lambda: ivf_topk(emb, "vec_id", "embedding", k=5),
        "ivfpq_auto": lambda: ivfpq_topk(emb, "vec_id", "embedding", dim=64, k=5),
        "lsh_jl": lambda: lsh_topk(proj, "vec_id", "embedding", dim=16, k=5),
        "ivf_jl": lambda: ivf_topk(proj, "vec_id", "embedding", k=5),
        "ivfpq_standing": lambda: ann_topk_against_index(emb, "vec_id", "embedding", standing_base, k=5),
    }
    # warm once (JIT, scan cache)
    for name, make in methods.items():
        t0 = time.perf_counter()
        df = make()
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_run = time.perf_counter() - t0
        print(f"warm  {name:16s} plan={t_build:6.2f}s  run={t_run:6.2f}s", flush=True)
    for name, make in methods.items():
        t0 = time.perf_counter()
        df = make()
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_run = time.perf_counter() - t0
        print(f"timed {name:16s} plan={t_build:6.2f}s  run={t_run:6.2f}s", flush=True)


if __name__ == "__main__":
    main()
