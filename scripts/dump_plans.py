"""Regenerate PLANS.md: annotated physical plans of headline queries.

Usage: python scripts/dump_plans.py   (from the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from udacity_capstone_data_engineering_spark import get_spark
from udacity_capstone_data_engineering_spark import queries as catalog

PICK = {
    "flagship_nation_order_stats": (
        "Star join: both dims broadcast, one shuffle for the group-agg, "
        "partial aggregation map-side, filters/pruning pushed to every scan."
    ),
    "pricing_summary": (
        "Filter pushed into the parquet scan (PushedFilters on l_shipdate); "
        "two-level HashAggregate."
    ),
    "window_topk_orders": (
        "Ranked top-k per group: WindowGroupLimit pushes rank<=3 below the "
        "sort; single hash partition on the group key."
    ),
    "global_top100_lineitems": (
        "Global ORDER BY/LIMIT as TakeOrderedAndProject: per-partition top-k "
        "+ k-way driver merge, no full sort."
    ),
    "near_dup_minhash_lsh": (
        "Signatures per-row (no shuffle) -> band groupBy (ONE shuffle) -> "
        "in-bucket pair enumeration -> Jaccard verify joins only candidates."
    ),
    "events_tumbling_hourly": (
        "Windowed agg: partial aggregation before the shuffle on window buckets."
    ),
    "asof_join_purchase_view": (
        "As-of via union+running-window: single shuffle on user_id, no range "
        "self-join."
    ),
    "ngram_jaccard_pairs": (
        "Exact set-similarity join via prefix filtering: per-row shingle-hash "
        "sets (map-only), candidates from an equi-join on prefix hashes (NO "
        "cross join anywhere), exact verify joins only the candidate list."
    ),
    "winnow_fingerprints_docs": (
        "Winnowing: entirely map-side higher-order functions over a widened "
        "scan (fan_out_small_scan) — one round-robin exchange at small sf, "
        "zero at scale, no shuffle for the fingerprinting itself."
    ),
    "bucketed_join_coloc": (
        "Co-located join from bucketed catalog tables: SortMergeJoin with "
        "ZERO Exchange below it (both sides pre-bucketed+sorted on the key); "
        "the only shuffle is the group-agg above."
    ),
    "label_centroids": (
        "Array-column aggregation: posexplode then ONE shuffle carrying "
        "|labels| x dim partial decimal sums (map-side combine), not vectors."
    ),
    "embedding_lsh_topk": (
        "r3 shape: broadcast-hash candidate join (exact-key build side "
        "under a byte gate — zero join exchanges), then two slim "
        "exchanges only: distinct candidate pairs (map-side partial "
        "dedup first) and the per-query ranking window."
    ),
    "near_dup_collapsed": (
        "Boilerplate skew valve: ONE fingerprint groupBy collapses "
        "byte-identical docs before the LSH tier, so template buckets "
        "hold one representative, never the quadratic copy-set."
    ),
    "decontam_ngram_overlap": (
        "Corpus-linear decontamination: benchmark side reduces to a "
        "DISTINCT gram set; corpus grams equi-join it (shuffle keyed by "
        "gram), counts re-aggregate per doc — no doc-pair comparison."
    ),
    "containment_pairs": (
        "Asymmetric prefix filter: probe-side prefixes x full build "
        "index equi-join on gram hashes, exact verify joins candidates "
        "only — no CartesianProduct anywhere."
    ),
    "pack_sequences": (
        "Training-shard packing: per-bucket running-sum windows after "
        "ONE hash exchange on the bucket key — no global sort/ordering."
    ),
    "partitioned_catalog_roundtrip": (
        "Partitioned-at-rest catalog: the date-range predicate lands in "
        "PartitionFilters (directory pruning), data files of other "
        "weeks are never opened."
    ),
    "funnel_conversion": (
        "Ordered funnel: three filtered aggregates chained by user_id "
        "equi-joins; each step's build side shrinks, AQE broadcasts the "
        "narrowed funnel sides — the raw stream is never windowed."
    ),
    "copurchase_part_pairs": (
        "Basket self-join ON ORDER KEY (pairs only within a basket — "
        "quadratic in basket size, linear in orders), map-side-combined "
        "pair counts, TakeOrderedAndProject top-100 (no global sort)."
    ),
    "concurrent_sessions_peak": (
        "Sweep line: sessionize (one user_id window shuffle), collapse "
        "±1 deltas per instant with a combining aggregate, then the "
        "DISTRIBUTED running sum (r4): range buckets on t, per-bucket "
        "windows, broadcast offsets — no SinglePartition over the "
        "timeline; the quadratic interval self-join never appears."
    ),
    "parts_abc_pareto": (
        "Pareto curve: per-part decimal reduction, then the cumulative "
        "curve via the two-level prefix sum (r4): bucket-partitioned "
        "windows + broadcast per-bucket offsets, exact decimal running "
        "totals, classes cut on the exact curve — the only "
        "SinglePartition exchanges collapse the bucket-sized offsets "
        "relation."
    ),
    "customer_spend_gini": (
        "Gini rank formula over the distributed global row_number "
        "(r4): quantile range buckets, per-bucket local ranks, "
        "broadcast count offsets; n and the spend total ride the same "
        "per-bucket aggregate; scalar reduce at the end."
    ),
    "orders_snapshot_diff": (
        "Change-data-feed: ONE full-outer SortMergeJoin on the table "
        "key, null-safe column comparisons, unchanged rows filtered "
        "before anything downstream."
    ),
    "tpch_q2_min_cost_supplier": (
        "Correlated MIN decorrelated to a window: partsupp-sized "
        "supply aggregate (one shuffle), fixed dims broadcast, one "
        "hashpartitioning on partkey feeds MIN OVER + tie-keeping "
        "equality, TakeOrderedAndProject top-100."
    ),
    "tpch_q6_revenue_forecast": (
        "The scan floor: all three predicates pushed to parquet, "
        "4-column ReadSchema, exact DECIMAL partial+final aggregate, "
        "zero wide shuffles, one WholeStageCodegen span."
    ),
    "doc_repetition_flags": (
        "Repetition filters (r5e): three explode->groupBy branches "
        "whose shuffle keys are (doc_id, 60-bit hash) — raw lines/"
        "grams never cross the wire; all joins doc_id-keyed on "
        "already-reduced one-row-per-doc relations."
    ),
    "token_countmin_sketch": (
        "Count-min (r5e): exact per-key partials are the only "
        "data-sized shuffle (paired partial/final HashAggregate); the "
        "depth-fold posexplode fans out the DISTINCT-key relation "
        "only, reduced onto the (4x256)-bounded grid."
    ),
    "inverted_index_postings": (
        "Inverted index (r5e): hash-keyed df/cf aggregates; postings "
        "via the two-level salted row_number tournament — look for "
        "two Window nodes over (th, doc%16) then (th), never a "
        "corpus-sized single partition."
    ),
    "bm25_topk_docs": (
        "BM25 (r5e): tf/df/doclen aggregates; term set + corpus "
        "stats enter as BroadcastExchange; DECIMAL(18,9) partial+final "
        "contribution sum; TakeOrderedAndProject top-50."
    ),
    "embedding_gram_matrix": (
        "Gram matrix (r5e): nested-HOF outer products exploded "
        "map-only (no self-join), ONE aggregation exchange onto "
        "d^2-bounded cells with map-side combine."
    ),
    "bigram_lm_quality": (
        "Bigram LM scoring (r5f): token stream reduced to per-doc gram "
        "counts map-side BEFORE any join; model tables are gram-keyed "
        "aggregates of that relation; 1-row vocabulary broadcast "
        "(documented BNLJ); doc-keyed final aggregation."
    ),
    "psi_event_drift": (
        "PSI drift (r5f): ONE counting pass over the event stream with "
        "partial aggregation; every later exchange carries only the "
        "keys x periods x buckets grid (plan-tested: no exchange keys "
        "on the raw value column)."
    ),
    "semantic_dedup_eps": (
        "SemDeDup (r5f): within-cluster pair join is an EQUI-join on "
        "the k-means cluster id — candidate volume sum-of-cluster-"
        "sizes-squared, never corpus-squared; exact integer eps-ball."
    ),
    "incremental_ingest_dedup": (
        "Incremental ingest (r5f): one fingerprint-keyed hash join "
        "against the standing index + one fingerprint-keyed smaller-id "
        "window inside the batch; no corpus rescan shape."
    ),
    "weighted_sample_docs": (
        "Weighted sample (r5f): deterministic Efraimidis-Spirakis keys; "
        "top-N is TakeOrderedAndProject (per-partition heaps + k-merge); "
        "the rank window runs on the N survivors only."
    ),
    "embedding_corr_matrix": (
        "Correlation matrix (r5f): the gram machinery (map-only HOF "
        "explode, d^2-bounded aggregation) joined against d-sized "
        "broadcast sums/vars; only the final expression touches doubles "
        "(sqrt makes rounding ties measure-zero)."
    ),
    "full_quality_gate": (
        "Composite quality gate (r5f): four doc-keyed signal branches "
        "(format, repetition, LM, entropy) hash-joined on doc_id; the "
        "only BNLJ is the LM branch's 1-row vocabulary broadcast."
    ),
    "copurchase_kcore": (
        "k-core (r5f): the final plan shows only the closing degree "
        "count — each of the 10 peel rounds (degree agg + two LEFT-SEMI "
        "joins on the edge list) runs behind a per-round localCheckpoint "
        "lineage cut; the round plan is asserted in tests/test_phase10."
    ),
    "semantic_dedup_autok": (
        "SemDeDup auto-k (r6): k = ceil(n/64) keeps candidate volume "
        "linear; the pair stage is an EQUI-join on the k-means cluster "
        "id over exact-collapse representatives — never corpus-squared; "
        "k-means runs on the driver under its caps (the assignment enters "
        "the plan as a local relation); past them every assignment is the "
        "map-only broadcast Arrow kernel."
    ),
    "incremental_ingest_dedup_bucketed": (
        "Bucketed standing index (r6): the index scan shows Bucketed: "
        "true and ZERO Exchange above it — only the incoming batch "
        "shuffles. This is the 100 TB ingest shape (plan-tested vs an "
        "unbucketed control)."
    ),
    "quality_pipeline_manifest": (
        "Materializing pipeline (r6): the gate stage writes "
        "keep-PARTITIONED shards (lineage cut); this final plan reads "
        "them with partition-level keep pruning (PartitionFilters, no "
        "data filter) and exactly 2 post-boundary exchanges "
        "(dedup-by-fingerprint, manifest agg)."
    ),
    "embedding_random_projection": (
        "JL projection (r6 breadth): map-only — the 16-row sign "
        "matrix enters as a documented bounded BroadcastNestedLoopJoin "
        "and the projection itself is a nested-HOF expression inside "
        "the scan stage; no shuffle anywhere."
    ),
    "join_key_skew_profile": (
        "Skew profiler (r6 breadth): ONE counting aggregation over the "
        "probe side, a 1-row totals broadcast (documented BNLJ), and "
        "TakeOrderedAndProject for the top keys — the decision input "
        "for the salting path, priced at one scan."
    ),
    "event_value_outliers_mad": (
        "MAD outliers (r6 breadth): per-key order-statistic medians "
        "under a total order — two window passes partitioned by the "
        "key (house rule: never an unpartitioned data-sized window), "
        "then a map-side flag expression."
    ),
    "semantic_dedup_incremental": (
        "Incremental SemDeDup (r7): Lloyd iterations touch ONLY the "
        "standing corpus; the batch assigns to the final centroids "
        "map-only and eps-checks against its own cluster's "
        "representatives via a cluster-id EQUI-join — batch-sized "
        "work, no standing-corpus rescan."
    ),
    "image_near_dup_pairs": (
        "Image near-dup (r7): dHash bits from the decoded-luma "
        "mapInPandas stage, then the banding shape shared with MinHash "
        "LSH — band-key equi-join for candidates, full Hamming "
        "distance verify; no image-pair cartesian anywhere."
    ),
    "audio_decode_stats": (
        "Audio decode (r7): payload synthesis is expression-only "
        "inside the scan stage, the WAV decode is ONE Arrow "
        "mapInPandas (map-only, zero shuffle), and the stats are "
        "computed worker-side — rows crossing Arrow are per-payload "
        "stats, never samples."
    ),
    "audio_silence_flags": (
        "Audio silence gate (r7): frame energies from the map-only "
        "decode stage, one doc-keyed aggregation joined back on "
        "doc_id — the integer-exact threshold is a map-side "
        "expression; frames-per-doc is bounded so the join is "
        "skew-safe."
    ),
    "video_scene_cuts": (
        "Video scene cuts (r7): the concatenated-PPM walker runs as "
        "ONE map-only Arrow stage emitting per-transition deltas "
        "(frames cross Arrow as BIGINT deltas, never pixels); the "
        "relative cut gate is a doc-keyed agg joined back — same "
        "shape as the audio silence gate."
    ),
    "embedding_cosine_topk": (
        "Exact-cosine anchor (r7 rewrite): id-only n^2 pair stream + "
        "broadcast raw-vector matrix scored by the exact-accumulation "
        "Arrow kernel (bit-identical to the HOF fold, manifest-pinned); "
        "vectors never shuffle, the window top-k sees (id, id, double) "
        "rows only."
    ),
}

HEADER = """# PLANS — physical plans of headline queries (sf0.01, AQE on)

Generated by `scripts/dump_plans.py`. Things to look for, per the
scale rules in README.md: `PushedFilters`/`ReadSchema` at scans,
`BroadcastHashJoin` for dims, paired partial/final `HashAggregate`,
`TakeOrderedAndProject`, `WindowGroupLimit`, and the absence of
`CartesianProduct`/`BatchEvalPython` in relational plans.
"""


def main() -> None:
    spark = get_spark(shuffle_partitions=8)
    qs = catalog.queries()
    out = [HEADER]
    for name, note in PICK.items():
        df = qs[name](spark, "/root/testdata/sf0.01")
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
