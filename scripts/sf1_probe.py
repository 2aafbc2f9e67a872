"""sf1 scale probe for the approximate AND relational tiers
(VERDICT r2 #2, extended for r3 #4).

Both r2 recall bugs (LSH fixed-planes, IVF fixed-nprobe) were invisible
at sf0.01 and real at sf0.1 — this probe checks the NEXT decade. The
driver testdata stops at sf0.1, so the probe synthesizes a 10× corpus
into /tmp/sf1_synth with the SAME structure, estimated from the real
sf0.1 tables (never modifying /root/testdata):

  - embeddings: 20,000 64-dim float32 vectors from the 10-cluster
    model fitted to sf0.1 (per-label centroid + per-dim residual std),
    seeded. Preserves the cluster geometry that makes ANN non-trivial.
  - documents: 50,000 word-salad docs over the sf0.1 vocabulary with
    matched length distribution, ~5% near-dup pairs (base doc with 10%
    words mutated) and ~0.2% exact duplicates, seeded.
  - relational tables (r3 #4): 10 key-offset copies of each sf0.1
    table (orderkeys/custkeys/partkeys/suppkeys/user ids shifted per
    copy, copy 0 = the original keys), so referential integrity, join
    selectivities, per-key group sizes and value distributions are
    all preserved while every fact relation — and the customer/part/
    user key spaces — grow exactly 10×. region/nation stay fixed
    (they are fixed-cardinality dims at every scale).

Then measures:
  - LSH / IVF / IVF-PQ recall@5 (auto knobs) against an exact numpy
    ground truth (chunked 20k×20k matmul — the driver-side oracle for
    the probe only), plus wall time, at sf0.1 and sf1.
  - wall time of the document-pipeline headliners for the 10× scaling
    exponent.
  - wall time of the most expensive NON-ANN bench queries, timed
    INTERLEAVED A/B (sf0.1 run immediately followed by the sf1 run of
    the same query, same process — SCALING.md's contention protocol),
    with the per-query 10× scaling exponent log10(t_sf1/t_sf0.1).

Usage: python scripts/sf1_probe.py [--regen] [--relational-only]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = "/tmp/sf1_synth"
SRC = "/root/testdata/sf0.1"


def generate(
    seed: int = 20260814,
    dst: str = SF1,
    vec_mult: int = 10,
    doc_mult: int = 10,
    embeddings_only: bool = False,
) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dst, exist_ok=True)

    # --- embeddings: fit per-label gaussian on sf0.1, sample 10x ---
    rows = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM '{SRC}/embeddings.parquet'"
    ).fetchall()
    by_label: dict[int, list] = {}
    for _, emb, lab in rows:
        by_label.setdefault(lab, []).append(np.asarray(emb, dtype=np.float64))
    labels = sorted(by_label)
    cent = {l: np.mean(by_label[l], axis=0) for l in labels}
    std = {l: np.std(np.stack(by_label[l]) - cent[l], axis=0) for l in labels}

    n_vec = vec_mult * len(rows)
    labs = rng.integers(0, len(labels), size=n_vec)
    dim = len(cent[labels[0]])
    mat = np.empty((n_vec, dim), dtype=np.float32)
    for l in labels:
        m = labs == l
        mat[m] = (
            cent[l] + rng.standard_normal((m.sum(), dim)) * std[l]
        ).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vec), pa.int64()),
                "embedding": pa.array(
                    [v for v in mat.tolist()], pa.list_(pa.float32())
                ),
                "label": pa.array(labs.astype("int32"), pa.int32()),
            }
        ),
        f"{dst}/embeddings.parquet",
    )
    if embeddings_only:  # the third-decade ANN probe needs nothing else
        print(f"generated {n_vec} vectors -> {dst}", flush=True)
        return

    # --- documents: vocabulary + length distribution from sf0.1 ---
    texts = [
        t[0]
        for t in duckdb.sql(f"SELECT text FROM '{SRC}/documents.parquet'").fetchall()
    ]
    vocab = sorted({w for t in texts for w in t.split()})
    lengths = np.array([len(t.split()) for t in texts])
    langs = [
        r[0]
        for r in duckdb.sql(
            f"SELECT lang FROM '{SRC}/documents.parquet'"
        ).fetchall()
    ]
    n_doc = doc_mult * len(texts)
    docs: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:  # exact duplicate
            docs.append(docs[rng.integers(0, i)])
        elif i > 10 and r < 0.05:  # near duplicate: mutate 10% of words
            base = docs[rng.integers(0, i)].split()
            k = max(1, len(base) // 10)
            for p in rng.choice(len(base), size=k, replace=False):
                base[p] = vocab[rng.integers(0, len(vocab))]
            docs.append(" ".join(base))
        else:
            n_w = int(lengths[rng.integers(0, len(lengths))])
            docs.append(
                " ".join(
                    vocab[j] for j in rng.integers(0, len(vocab), size=n_w)
                )
            )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_doc), pa.int64()),
                "text": pa.array(docs, pa.string()),
                "lang": pa.array(
                    [langs[int(j)] for j in rng.integers(0, len(langs), n_doc)],
                    pa.string(),
                ),
                "source": pa.array(
                    [f"src{int(j)}" for j in rng.integers(0, 40, n_doc)],
                    pa.string(),
                ),
                "n_chars": pa.array([len(d) for d in docs], pa.int64()),
            }
        ),
        f"{dst}/documents.parquet",
    )
    print(f"generated {n_vec} vectors, {n_doc} docs -> {dst}", flush=True)


# (table, key columns to offset per copy) — the offset base for each
# key column is max(key)+1 of ITS OWN key space, so copy c's keys are
# disjoint from copy c' and copy 0 keeps the original values.
_REL_OFFSETS = {
    "customer": {"c_custkey": "customer.c_custkey"},
    "supplier": {"s_suppkey": "supplier.s_suppkey"},
    "part": {"p_partkey": "part.p_partkey"},
    "orders": {
        "o_orderkey": "orders.o_orderkey",
        "o_custkey": "customer.c_custkey",
    },
    "lineitem": {
        "l_orderkey": "orders.o_orderkey",
        "l_partkey": "part.p_partkey",
        "l_suppkey": "supplier.s_suppkey",
    },
    "events": {"event_id": "events.event_id", "user_id": "events.user_id"},
}


def generate_relational(copies: int = 10) -> None:
    """10× key-offset replication of the sf0.1 relational tables into
    SF1 (see module docstring). One duckdb COPY per table; region and
    nation are carried over unchanged."""
    import shutil

    import duckdb

    os.makedirs(SF1, exist_ok=True)
    con = duckdb.connect()
    bases: dict[str, int] = {}
    for spec in {s for cols in _REL_OFFSETS.values() for s in cols.values()}:
        table, key = spec.split(".")
        bases[spec] = (
            con.sql(
                f"SELECT max({key}) + 1 FROM read_parquet('{SRC}/{table}.parquet')"
            ).fetchone()[0]
        )
    for table, offsets in _REL_OFFSETS.items():
        cols = [
            c[0]
            for c in con.sql(
                f"DESCRIBE SELECT * FROM read_parquet('{SRC}/{table}.parquet')"
            ).fetchall()
        ]
        sel = ", ".join(
            f"{c} + c.range * {bases[offsets[c]]} AS {c}" if c in offsets else c
            for c in cols
        )
        con.sql(
            f"COPY (SELECT {sel} "
            f"FROM read_parquet('{SRC}/{table}.parquet'), "
            f"range({copies}) c ORDER BY c.range) "
            f"TO '{SF1}/{table}.parquet' (FORMAT PARQUET)"
        )
        n = con.sql(
            f"SELECT count(*) FROM read_parquet('{SF1}/{table}.parquet')"
        ).fetchone()[0]
        print(f"generated {table}: {n} rows", flush=True)
    for table in ("region", "nation"):
        shutil.copyfile(f"{SRC}/{table}.parquet", f"{SF1}/{table}.parquet")


def exact_topk_numpy(path: str, k: int = 5) -> set[tuple[int, int]]:
    """Exact cosine top-k ground truth, chunked numpy matmul."""
    import duckdb

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
    for s in range(0, n, 2048):
        block = mat[s : s + 2048] @ mat.T  # (b, n)
        for bi in range(block.shape[0]):
            i = s + bi
            block[bi, i] = -np.inf  # exclude self
            # ties: cosine desc then neighbor id asc — lexsort on (-cos, id)
            order = np.lexsort((ids, -block[bi]))[:k]
            truth.update((int(ids[i]), int(ids[j])) for j in order)
    return truth


def probe(sf_dir: str, spark, out: dict) -> None:
    from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
    from udacity_capstone_data_engineering_spark.operators.pq import ivfpq_topk
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        lsh_topk,
    )
    from udacity_capstone_data_engineering_spark.queries import queries

    tag = os.path.basename(sf_dir.rstrip("/"))
    truth = exact_topk_numpy(sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    from udacity_capstone_data_engineering_spark.operators.pq import pq_topk

    for name, fn in {
        "lsh": lambda: lsh_topk(emb, "vec_id", "embedding", dim=64, k=5),
        "ivf": lambda: ivf_topk(emb, "vec_id", "embedding", k=5),
        "ivfpq": lambda: ivfpq_topk(emb, "vec_id", "embedding", dim=64, k=5),
        # VERDICT r4 #8: the same PQ scan FORCED onto the sharded
        # cogroup grid path (cap = a quarter of the index bytes → 4
        # shards, the just-past-the-cap shape), so the fallback's wall
        # is known before a real corpus crosses the broadcast cap.
        "pq_shard": lambda: pq_topk(
            emb,
            "vec_id",
            "embedding",
            dim=64,
            k=5,
            max_broadcast_bytes=max(1, emb.count() * 16 // 4),
        ),
        "pq": lambda: pq_topk(emb, "vec_id", "embedding", dim=64, k=5),
    }.items():
        t0 = time.monotonic()
        got = {(r.query_id, r.neighbor_id) for r in fn().collect()}
        dt = time.monotonic() - t0
        rec = len(truth & got) / len(truth)
        out[f"{tag}:{name}"] = {"recall@5": round(rec, 4), "sec": round(dt, 2)}
        print(json.dumps({tag: name, "recall@5": round(rec, 4), "sec": round(dt, 2)}), flush=True)

    # VERDICT r4 #1: end-to-end two-stage rerank — final top-5 of the
    # ANN-stage-1 pipelines vs the exact pipeline, at probe scale.
    from udacity_capstone_data_engineering_spark.queries.retrieval import (
        _rerank_pipeline,
    )

    def final_pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    t0 = time.monotonic()
    exact_final = final_pairs(_rerank_pipeline(spark, sf_dir, stage1="exact"))
    dt = time.monotonic() - t0
    out[f"{tag}:rerank_exact"] = {"sec": round(dt, 2)}
    print(json.dumps({tag: "rerank_exact", "sec": round(dt, 2)}), flush=True)
    for backend in ("lsh", "ivfpq"):
        t0 = time.monotonic()
        got = final_pairs(_rerank_pipeline(spark, sf_dir, stage1=backend))
        dt = time.monotonic() - t0
        rec = len(exact_final & got) / len(exact_final)
        out[f"{tag}:rerank_{backend}"] = {
            "final_top5_recall": round(rec, 4),
            "sec": round(dt, 2),
        }
        print(
            json.dumps(
                {tag: f"rerank_{backend}", "final_top5_recall": round(rec, 4), "sec": round(dt, 2)}
            ),
            flush=True,
        )

    qs = queries()
    for qname in [
        "near_dup_minhash_lsh",
        "near_dup_collapsed",
        "simhash_docs",
        "winnow_fingerprints_docs",
        "ngram_jaccard_pairs",
        "doc_chunks_overlap",
        "exact_dedup_docs",
        "doc_token_stats",
    ]:
        t0 = time.monotonic()
        qs[qname](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        out[f"{tag}:{qname}"] = {"sec": round(dt, 2)}
        print(json.dumps({tag: qname, "sec": round(dt, 2)}), flush=True)


# The most expensive non-ANN bench queries at sf0.1 (BENCH_r03), plus
# the four queries rewritten onto the distributed ranking helper —
# their 10× exponents prove the helper's scale shape with numbers.
REL_QUERIES = [
    "decontam_ngram_overlap",
    "containment_pairs",
    "profile_orders",
    "copurchase_graph_stats",
    "bucketed_join_coloc",
    "copurchase_part_pairs",
    "tpch_q21_waiting_suppliers",
    "concurrent_sessions_peak",
    "cohort_retention_weekly",
    "corpus_prep_pipeline",
    "rfm_customer_segments",
    "customer_spend_gini",
    "parts_abc_pareto",
    # round-5 additions: TPC-H closers, z-order rewrite, MG sketch,
    # cluster-keyed split
    "tpch_q2_min_cost_supplier",
    "tpch_q6_revenue_forecast",
    "zorder_layout_roundtrip",
    "token_heavy_hitters_mg",
    "leakage_safe_split",
    "copurchase_pagerank",
    # round-5e additions: repetition filters, CMS, inverted index,
    # integer k-means
    "doc_repetition_flags",
    "token_countmin_sketch",
    "inverted_index_postings",
    "embedding_kmeans_int",
    "bm25_topk_docs",
    "embedding_gram_matrix",
    # round-5f additions: bigram LM filter, PSI drift, semantic dedup
    "bigram_lm_quality",
    "psi_event_drift",
    "semantic_dedup_eps",
    "copurchase_kcore",
    "doc_token_entropy",
    "weighted_sample_docs",
    "incremental_ingest_dedup",
    "embedding_corr_matrix",
    "full_quality_gate",
    "item_similarity_jaccard",
    "cluster_top_terms_ctfidf",
]


def probe_relational(spark, out: dict) -> None:
    """Interleaved A/B walls: per query, the sf0.1 run is immediately
    followed by the sf1 run in the same process, so host-level drift
    hits both sides of each ratio equally (SCALING.md protocol)."""
    import math

    from udacity_capstone_data_engineering_spark.queries import queries

    qs = queries()
    for qname in REL_QUERIES:
        walls = {}
        for sf_dir, tag in ((SRC, "sf0.1"), (SF1, "sf1")):
            t0 = time.monotonic()
            qs[qname](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls[tag] = round(time.monotonic() - t0, 2)
        exp = round(math.log10(max(walls["sf1"], 1e-3) / max(walls["sf0.1"], 1e-3)), 2)
        out[f"rel:{qname}"] = {**walls, "exponent": exp}
        print(json.dumps({qname: walls, "exponent": exp}), flush=True)


def main() -> None:
    rel_only = "--relational-only" in sys.argv
    if "--regen" in sys.argv or not os.path.exists(f"{SF1}/documents.parquet"):
        generate()
    if "--regen" in sys.argv or not os.path.exists(f"{SF1}/lineitem.parquet"):
        generate_relational()
    from udacity_capstone_data_engineering_spark import get_spark

    spark = get_spark(shuffle_partitions=32)
    out: dict = {}
    try:
        out["load1"] = round(os.getloadavg()[0], 1)
    except OSError:
        pass
    if not rel_only:
        for sf_dir in [SRC, SF1]:
            probe(sf_dir, spark, out)
    probe_relational(spark, out)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
