"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full evaluation with the noop sink (count()
would let Catalyst prune the very work being measured).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from udacity_capstone_data_engineering_spark import get_spark
from udacity_capstone_data_engineering_spark import queries as catalog
from udacity_capstone_data_engineering_spark.session import codegen_compilations

HEADLINE = [
    "flagship_nation_order_stats",
    "pricing_summary",
    "window_topk_orders",
    "window_rolling_sum",
    "rollup_priority_status",
    "events_tumbling_hourly",
    "events_sessionize",
    "exact_dedup_docs",
    "near_dup_minhash_lsh",
    "simhash_docs",
    "doc_quality",
    "token_tfidf",
    "asof_join_purchase_view",
    "range_join_events_60s",
    "json_extract_props",
    "deterministic_stats",
    "salted_skew_agg",
    "embedding_lsh_topk",
    "embedding_ivf_topk",
    # round 2 additions
    "ngram_jaccard_pairs",
    "winnow_fingerprints_docs",
    "bpe_pretoken_stats",
    "multimodal_frame_sample",
    "bucketed_join_coloc",
    "label_centroids",
    "events_gap_fill",
    "scd2_customer_status",
    # round 2: TPC-H suite (multi-join / semi-anti / scalar-subquery shapes)
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customers",
    "tpch_q21_waiting_suppliers",
    # round 2: corpus-prep tier
    "duplicated_span_ratio",
    "fuzzy_name_pairs",
    "doc_chunks_overlap",
    "corpus_prep_pipeline",
    # round 3: phase-7 tier + partitioned catalog + skew valve
    "near_dup_collapsed",
    "decontam_ngram_overlap",
    "containment_pairs",
    "pack_sequences",
    "blocklist_audit",
    "embedding_int8_quantize",
    "rerank_two_stage",
    "partitioned_catalog_roundtrip",
    # round 3: phase-8 behavioral analytics tier
    "funnel_conversion",
    "cohort_retention_weekly",
    "event_transition_matrix",
    "copurchase_part_pairs",
    "rfm_customer_segments",
    "concurrent_sessions_peak",
    "time_weighted_avg_value",
    "profile_orders",
    "incremental_monthly_rollup",
    "attribution_last_touch",
    "zscore_events",
    "top_session_paths",
    "orders_snapshot_diff",
    "copurchase_graph_stats",
    "conversion_lag_percentiles",
    "parts_abc_pareto",
    "event_weekday_chisq",
    "customer_spend_gini",
    "embedding_pq_topk",
    # round 5: ANN-stage-1 rerank + HLL profiler + ivfpq serving tier
    "rerank_two_stage_ann",
    "profile_orders_approx",
    "embedding_ivfpq_topk",
    # round 5: TPC-H set completed (Q2 correlated-min, Q6 scan floor)
    "tpch_q2_min_cost_supplier",
    "tpch_q6_revenue_forecast",
    # round 5: z-order clustered at-rest layout
    "zorder_layout_roundtrip",
    # round 5: Misra-Gries vocabulary heavy hitters
    "token_heavy_hitters_mg",
    # round 5: leakage-safe split (dedup clusters + portable hash split)
    "leakage_safe_split",
    # round 5: exact-integer PageRank on the co-purchase graph
    "copurchase_pagerank",
    # round 5e: Gopher repetition filters (dup lines / top 2-gram / dup 3-gram)
    "doc_repetition_flags",
    # round 5e: count-min frequency sketch over the corpus vocabulary
    "token_countmin_sketch",
    # round 5e: inverted-index build (df/cf + skew-bounded postings)
    "inverted_index_postings",
    # round 5e: exact-integer Lloyd k-means over embeddings
    "embedding_kmeans_int",
    # round 5e: BM25 ranking for the rarest-term workload
    "bm25_topk_docs",
    # round 5e: integer gram matrix (PCA prep, map-only outer products)
    "embedding_gram_matrix",
    # round 5f: corpus bigram-LM perplexity filter
    "bigram_lm_quality",
    # round 5f: PSI distribution-drift monitor
    "psi_event_drift",
    # round 5f: SemDeDup within-cluster eps-ball dedup audit
    "semantic_dedup_eps",
    # round 5f batch 2: k-core peeling, token entropy, weighted sample
    "copurchase_kcore",
    "doc_token_entropy",
    "weighted_sample_docs",
    # round 5f batch 3: incremental-ingest dedup (fingerprint index join)
    "incremental_ingest_dedup",
    # round 5f batch 3: correlation matrix (PCA prep from gram machinery)
    "embedding_corr_matrix",
    # round 5f batch 3: the composite document quality gate
    "full_quality_gate",
    # round 5f batch 4: recsys item-item similarity + topic labels
    "item_similarity_jaccard",
    "cluster_top_terms_ctfidf",
]


def _load_guard() -> bool:
    """Refuse to stamp a clean record on a loaded host (VERDICT r9 #1:
    the r9 official bench started at load5 19.5/32 cpus and embedded
    ~25% phantom regression that cost a judge session to adjudicate).

    Waits up to $SPARK_GRAFT_LOAD_WAIT seconds (default 240) for load1
    to fall under $SPARK_GRAFT_LOAD_MAX (default 3.0); if the host is
    still loaded, the run proceeds — a partial record beats none for a
    non-interactive driver — but the record carries
    ``load_tainted: true`` so nobody reads its ratios as code drift."""
    max_load = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "3.0"))
    deadline = time.monotonic() + float(
        os.environ.get("SPARK_GRAFT_LOAD_WAIT", "240")
    )
    while True:
        l1 = os.getloadavg()[0]
        if l1 < max_load:
            return False
        if time.monotonic() >= deadline:
            print(
                json.dumps(
                    {"bench_warning": "load_tainted", "load1": round(l1, 2),
                     "max": max_load}
                ),
                flush=True,
            )
            return True
        time.sleep(10)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Host-load metadata (VERDICT r4 #4): cross-round ratios are only
    # meaningful between runs at comparable load — r4's untouched tier
    # drifted 1.15x purely from outside-the-container contention.
    load_tainted = _load_guard()
    load_start = os.getloadavg()
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = catalog.queries()
    # VERDICT r5 #4: bench the WHOLE catalog, not just the headline
    # tier — 93 queries had no recorded wall, so a regression there was
    # invisible. HEADLINE keeps its historical order (cross-round
    # per-query ratios stay aligned); everything else appends sorted,
    # except that *_build rows run FIRST (r11): build rows always
    # rebuild their session artifact by contract, and running them
    # ahead of the serve rows makes every serve wall a true serve-only
    # cost (ann_auto_dispatch sorts before ann_exact_truth_build and
    # would otherwise pay the truth build inside its own row).
    rest = sorted(set(qs) - set(HEADLINE))
    run_list = (
        HEADLINE
        + [n for n in rest if n.endswith("_build")]
        + [n for n in rest if not n.endswith("_build")]
    )
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = sf_dir
    timings: dict[str, float] = {}
    for name in run_list:
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm (scan cache, JIT)
        before = codegen_compilations(spark)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        # Janino compilations inside the timed call: 0 when the warm call
        # left every generated class of the row in the codegen cache.
        compiled = codegen_compilations(spark) - before
        # VERDICT r6 #4: full-catalog output outgrew the driver's tail
        # capture (BENCH_r06.json kept 60 of 192 timings, zero overlap
        # with r5's window). One FLUSHED line per query means any
        # tail-bounded capture retains the newest measurements, and a
        # killed run still leaves a usable partial record.
        print(
            json.dumps({"bench_query": name, "sec": timings[name], "sf": sf,
                        "codegen_compiles": compiled}),
            flush=True,
        )

    total = round(sum(timings.values()), 3)
    load_end = os.getloadavg()
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "load": {
            "cpus": os.cpu_count(),
            "load1_start": round(load_start[0], 2),
            "load5_start": round(load_start[1], 2),
            "load1_end": round(load_end[0], 2),
            "load5_end": round(load_end[1], 2),
            "load_tainted": load_tainted,
        },
    }
    print(json.dumps(record), flush=True)
    # VERDICT r7 #4: the full record above is wide enough that a
    # tail-bounded capture clips its FRONT (BENCH_r07.json opened
    # mid-JSON). Emit a compact headline LAST — small enough to survive
    # any tail window — so the driver-side artifact parses standalone.
    top20 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:20]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
                "top20": top20,
                "load1_start": round(load_start[0], 2),
                "load1_end": round(load_end[0], 2),
                "load_tainted": load_tainted,
            }
        ),
        flush=True,
    )
    # Truncation-proof committed record: the FULL timing map lands in a
    # file regardless of how much of stdout any harness retains.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
    )
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
