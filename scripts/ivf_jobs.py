"""Job-level breakdown of one ivf_topk serve (guide §1.1)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from udacity_capstone_data_engineering_spark import get_spark
from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
from udacity_capstone_data_engineering_spark.sources.catalog import load_table


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, sf_dir, "embeddings")
    print("emb rows:", emb.count())
    # warm
    ivf_topk(emb, "vec_id", "embedding", k=5, n_centroids=16, nprobe=12).write.format(
        "noop"
    ).mode("overwrite").save()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    t0 = time.perf_counter()
    t_plan0 = time.perf_counter()
    df = ivf_topk(emb, "vec_id", "embedding", k=5, n_centroids=16, nprobe=12)
    t_plan = time.perf_counter() - t_plan0
    t_run0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t_run = time.perf_counter() - t_run0
    print(f"plan={t_plan:.2f}s run={t_run:.2f}s total={time.perf_counter()-t0:.2f}s")
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.jobsList(None).iterator()
    rows = []
    while it.hasNext():
        j = it.next()
        if j.jobId() in before:
            continue
        sub, comp = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or comp.isEmpty():
            continue
        wall = (comp.get().getTime() - sub.get().getTime()) / 1000.0
        rows.append((j.jobId(), wall, str(j.description())))
    for jid, wall, desc in sorted(rows):
        print(f"job {jid:4d} {wall:8.3f}s  {desc[:110]}")


if __name__ == "__main__":
    main()


def stages(spark, before_stage_ids=()):
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.stageList(None).iterator()
    rows = []
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid in before_stage_ids:
            continue
        sub, comp = s.submissionTime(), s.completionTime()
        if sub.isEmpty() or comp.isEmpty():
            continue
        wall = (comp.get().getTime() - sub.get().getTime()) / 1000.0
        rows.append((sid, wall, s.numTasks(), str(s.name())))
    return rows
