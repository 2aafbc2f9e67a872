"""Phase-7 query tier (round 3): the remaining corpus-prep stages a
large-scale training pipeline runs between "clean corpus" and
"training shards" — benchmark decontamination, sub-document
containment detection, token-budget sequence packing, and blocklist
auditing. All JVM-side builtins; every query oracle-paired.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.text import (
    tokens,
    word_shingles,
)
from udacity_capstone_data_engineering_spark.queries import (
    _COSINE_SQL,
    _SHINGLES_SQL,
    _TOKENS_SQL,
    _register,
)
from udacity_capstone_data_engineering_spark.sources.catalog import (
    fan_out_small_scan,
    load_table,
)

# ---------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap against a held-out set
# ---------------------------------------------------------------------------


@_register(
    "decontam_ngram_overlap",
    f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shset FROM documents),
    bg AS (SELECT DISTINCT unnest(shset) AS g FROM sh WHERE doc_id % 100 = 0),
    corpus AS (SELECT * FROM sh WHERE doc_id % 100 <> 0),
    hits AS (
        SELECT doc_id, count(*) AS n_overlap
        FROM (SELECT doc_id, unnest(shset) AS g FROM corpus)
        JOIN bg USING (g)
        GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(len(c.shset) AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           coalesce(h.n_overlap, 0) >= 0.2 * greatest(len(c.shset), 1)
               AS contaminated
    FROM corpus c LEFT JOIN hits h USING (doc_id)
    """,
)
def decontam_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: for every corpus document, the
    fraction of its distinct word 5-grams that appear ANYWHERE in the
    held-out benchmark set (here: every 100th doc stands in for the
    eval benchmark), with the standard flag at ≥20% overlap. This is
    the n-gram-overlap decontamination used for LLM training corpora
    (eval answers leaking into training data inflate benchmarks).

    Scale shape: the benchmark side reduces to a DISTINCT gram set
    (tiny vs the corpus — benchmarks are fixed-size while corpora
    grow), the corpus side explodes grams and equi-joins on the gram
    — one shuffle keyed by gram, per-doc counts re-aggregate on
    doc_id. No pairwise comparison anywhere: cost is corpus-linear
    regardless of benchmark pairing, unlike a doc×doc approach."""
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    # Grams are hashed to int64 BEFORE the distinct/join shuffles: the
    # 30-60B gram strings are computed and dropped inside the scan
    # stage, and only 8B keys cross the wire (~5-8x less shuffle). The
    # oracle joins the raw strings, so the hash gate doubles as the
    # collision check (2^-64-scale risk, same trade as the
    # fingerprint tier).
    #
    # localCheckpoint barrier (r11, guide §1.2/§8): the shingle
    # relation fans into THREE branches (benchmark grams, corpus
    # explode, the per-doc output spine) and the explode branches push
    # their implicit size>0 pruning filters below the projection — the
    # tokenize+shingle pipeline ran FIVE times per doc (r11 filter
    # audit: 2×800-char duplicated HOF filter conditions). The barrier
    # runs it once, and what materializes is the lightweight proxy —
    # 8-byte gram hashes and the gram count, never the gram strings.
    sh0 = docs.select(
        "doc_id",
        F.array_distinct(word_shingles("text", k=5)).alias("shset"),
    )
    sh = sh0.select(
        "doc_id",
        F.transform("shset", lambda s: F.xxhash64(s)).alias("hset"),
        F.size("shset").cast("long").alias("n_grams"),
    ).localCheckpoint(eager=True)
    bench_grams = (
        sh.filter(F.col("doc_id") % 100 == 0)
        .select(F.explode("hset").alias("h"))
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") % 100 != 0)
    hits = (
        corpus.select("doc_id", F.explode("hset").alias("h"))
        .join(bench_grams, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    out = corpus.join(hits, "doc_id", "left").na.fill({"n_overlap": 0})
    n_grams = F.col("n_grams")
    return out.select(
        "doc_id",
        n_grams.alias("n_grams"),
        F.col("n_overlap").cast("long").alias("n_overlap"),
        (
            F.col("n_overlap")
            >= 0.2 * F.greatest(n_grams, F.lit(1).cast("long"))
        ).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Sub-document containment (the direction Jaccard misses)
# ---------------------------------------------------------------------------


_SHINGLES2_SQL = (
    "list_distinct([array_to_string("
    "(regexp_split_to_array(trim(text), '\\s+'))[i:i+1], ' ')"
    " for i in range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 0) + 1)])"
)


@_register(
    "containment_pairs",
    f"""
    WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    sh AS (SELECT doc_id, {_SHINGLES2_SQL} AS shset FROM sub)
    SELECT id_a, id_b, containment FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               ROUND(len(list_intersect(a.shset, b.shset))
                     / greatest(len(a.shset), 1), 6) AS containment
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
    WHERE containment >= 0.25
    """,
)
def containment_pairs(spark, sf_dir):
    """Directional containment pairs |A∩B|/|A| ≥ 0.25 over word-bigram
    sets — sub-document duplication that symmetric Jaccard
    structurally under-scores (a short quote fully inside a long
    article scores containment 1.0 but Jaccard ≈ 0). Engine side runs
    the prefix-filtered ``containment_join`` (probe prefixes × full
    build index, no cross join — `operators/jaccard.py`); the oracle
    is the naive quadratic definition on a deterministic 1-in-5
    document subset (bounded so the oracle itself stays tractable at
    the sf0.1 replay)."""
    from udacity_capstone_data_engineering_spark.operators.jaccard import (
        containment_join,
    )

    docs = fan_out_small_scan(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    )
    return containment_join(docs, "text", "doc_id", threshold=0.25, shingle_k=2)


# ---------------------------------------------------------------------------
# Token-budget sequence packing (training-shard assembly)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 500
_PACK_BUCKETS = 8


@_register(
    "pack_sequences",
    f"""
    WITH t AS (
        SELECT doc_id,
               len({_TOKENS_SQL}) AS weight,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {_PACK_BUCKETS} AS bucket
        FROM documents)
    SELECT doc_id,
           CAST(weight AS BIGINT) AS weight,
           CAST(bucket AS INTEGER) AS bucket,
           CAST((SUM(weight) OVER (PARTITION BY bucket ORDER BY doc_id)
                 - weight) // {_PACK_BUDGET} AS INTEGER) AS pack_id
    FROM t
    """,
)
def pack_sequences(spark, sf_dir):
    """Token-budget sequence packing: assign documents to ~500-token
    packs (training-shard units) via contiguous packing inside
    portable-hash buckets (`operators/packing.py`). Deterministic and
    repartition-invariant — bucket from the portable 60-bit hash,
    ordering by doc_id within bucket — so the same corpus always
    yields the same shards on any cluster layout. Each bucket's window
    is a single partition's sort; no global ordering anywhere."""
    from udacity_capstone_data_engineering_spark.operators.packing import (
        pack_contiguous,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).alias("n_tokens")
    )
    return pack_contiguous(
        docs, "doc_id", "n_tokens", budget=_PACK_BUDGET, buckets=_PACK_BUCKETS
    )


# ---------------------------------------------------------------------------
# Blocklist audit (quality filtering with measured drops)
# ---------------------------------------------------------------------------

_BLOCKLIST = ("slow", "error")


@_register(
    "blocklist_audit",
    f"""
    SELECT doc_id,
           CAST(len(list_filter({_TOKENS_SQL},
                                t -> t IN {_BLOCKLIST!r})) AS BIGINT)
               AS n_hits,
           len(list_filter({_TOKENS_SQL}, t -> t IN {_BLOCKLIST!r})) = 0
               AS clean
    FROM documents
    """,
)
def blocklist_audit(spark, sf_dir):
    """Blocklist audit: per-document count of blocklisted tokens and a
    keep/drop flag. The 'no silent caps' rule applied to content
    filtering — a pipeline that drops documents must MEASURE what it
    dropped, so the filter emits audit counts rather than silently
    subsetting. One map-side pass, builtin higher-order filter, no
    shuffle; the downstream keep-filter is `clean = true`."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))  # oracle's _TOKENS_SQL lowers too
    hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin(*_BLOCKLIST),
        )
    )
    return docs.select(
        "doc_id",
        hits.cast("long").alias("n_hits"),
        (hits == 0).alias("clean"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization (4x memory cut for the vector store)
# ---------------------------------------------------------------------------


@_register(
    "embedding_int8_quantize",
    """
    SELECT vec_id,
           ROUND(127.0 / greatest(list_max(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> abs(x))), 1e-30), 6)
               AS scale,
           list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(greatest(least(floor(
                        x * (127.0 / greatest(list_max(list_transform(
                            CAST(embedding AS DOUBLE[]), y -> abs(y))), 1e-30))
                        + 0.5), 127), -127) AS INTEGER))
               AS qvec
    FROM embeddings
    """,
)
def embedding_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embedding column:
    scale = 127/max|v|, q_i = clamp(floor(v_i*scale + 0.5), ±127).
    The standard 4× memory cut for a billion-vector store (int8
    SDOT/VNNI scoring downstream); per-vector scales keep the max
    quantization error at 1/254 of each vector's range regardless of
    norm spread. Map-only, builtin higher-order functions.

    Rounding is floor(x+0.5) SPELLED OUT on both engine and oracle —
    Spark rounds half-up, DuckDB half-even, so a bare round() would
    hash-mismatch on exact .5 boundaries. Recall preserved ≥0.9 vs
    fp32 (test_phase7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = 127.0 / F.greatest(amax, F.lit(1e-30))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.least(F.floor(x * scale + 0.5), F.lit(127.0)), F.lit(-127.0)
        ).cast("int"),
    )
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        q.alias("qvec"),
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval: cheap recall stage -> expensive rerank stage
# ---------------------------------------------------------------------------

_RERANK_K1 = 20
_RERANK_K = 5
_RERANK_QMOD = 50  # every 50th vector is a serving query; corpus stays full


@_register(
    "rerank_two_stage",
    f"""
    WITH stage1 AS (
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROUND({_COSINE_SQL}, 6) AS cosine,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY {_COSINE_SQL} DESC, b.vec_id) AS r1
            FROM embeddings a JOIN embeddings b
              ON a.vec_id <> b.vec_id
            WHERE a.vec_id % {_RERANK_QMOD} = 0)
        WHERE r1 <= {_RERANK_K1}),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(0.7 * cosine
                     + 0.3 * (CAST(('0x' || substring(md5(
                           CAST(query_id AS VARCHAR) || ':' ||
                           CAST(neighbor_id AS VARCHAR)), 1, 4)) AS INTEGER)
                         / 65535.0), 6) AS rerank_score
        FROM stage1)
    SELECT query_id, neighbor_id, rerank_score, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rerank_score DESC,
                                                neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {_RERANK_K}
    """,
)
def rerank_two_stage(spark, sf_dir):
    """Two-stage retrieval, the serving pattern every RAG/search stack
    runs: a cheap high-recall stage-1 (top-{_RERANK_K1} by embedding
    cosine) feeds an expensive stage-2 scorer over candidates ONLY —
    here a deterministic md5-derived stand-in for a cross-encoder,
    blended 0.7·cosine + 0.3·model — and the final top-{_RERANK_K} is
    ranked by the blend. At 100 TB the stage-2 model (the costly part)
    touches k1·queries rows instead of corpus·queries; the md5 stub
    keeps the whole pipeline under the hash gate (swap one column
    expression for a real scorer UDF in production).

    Serving shape: the QUERY side is a workload (here every
    {_RERANK_QMOD}th vector — queries are a stream, not the corpus),
    the corpus side is full. THIS registered entry pins
    ``stage1="exact"`` (the brute-force scorer) so the end-to-end
    result stays deterministic and hash-checkable against the DuckDB
    oracle — the workload streams through the same exact-cosine block
    scan as ``embedding_cosine_topk`` (the quadratic baseline, one
    query against every corpus row). The 100 TB serving shape is
    ``rerank_two_stage_ann`` (stage1="lsh"): identical stage-2 blend
    and top-k, candidates from the bucketed ANN tier — per-query cost
    ~tables·probes·sqrt(n) instead of n; ``stage1="ivfpq"`` wires the
    compressed-index tier the same way
    (recall vs this exact pipeline gated ≥0.9 in
    ``tests/test_similarity.py`` and the sf1 probe)."""
    return _rerank_pipeline(spark, sf_dir, stage1="exact")


def _rerank_pipeline(spark, sf_dir, stage1: str = "exact"):
    """Shared two-stage pipeline; ``stage1`` picks the candidate
    generator (VERDICT r4 #1): "exact" = brute-force cosine (oracle
    anchor), "lsh" = multiprobe hyperplane LSH, "ivfpq" = compressed
    IVF-PQ index — all through the operators' ``queries=`` workload
    hook, so only workload vectors probe while the index/corpus side
    stays full. Stage-2 (the expensive model stand-in, the blend, and
    the final top-k) is byte-identical across backends."""
    emb = load_table(spark, sf_dir, "embeddings")
    workload = emb.filter(F.col("vec_id") % _RERANK_QMOD == 0)
    if stage1 == "exact":
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            brute_force_topk,
        )

        s1 = brute_force_topk(
            emb, "vec_id", "embedding", k=_RERANK_K1, queries=workload
        )
    elif stage1 == "lsh":
        from udacity_capstone_data_engineering_spark.operators.similarity import (
            lsh_topk,
        )

        dim = int(emb.select(F.size("embedding").alias("d")).head()["d"])
        s1 = lsh_topk(
            emb, "vec_id", "embedding", dim, k=_RERANK_K1, queries=workload
        )
    elif stage1 == "ivfpq":
        from udacity_capstone_data_engineering_spark.operators.pq import (
            ivfpq_topk,
        )

        dim = int(emb.select(F.size("embedding").alias("d")).head()["d"])
        s1 = ivfpq_topk(
            emb, "vec_id", "embedding", dim, k=_RERANK_K1, queries=workload
        )
    else:
        raise ValueError(f"unknown stage1 backend: {stage1!r}")
    return _rerank_stage2(s1)


def _rerank_stage2(stage1):
    fake_model = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("query_id").cast("string"),
                        F.col("neighbor_id").cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("double")
        / 65535.0
    )
    scored = stage1.select(
        "query_id",
        "neighbor_id",
        F.round(0.7 * F.col("cosine") + 0.3 * fake_model, 6).alias(
            "rerank_score"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("rerank_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RERANK_K)
        .select("query_id", "neighbor_id", "rerank_score", "rnk")
    )


@_register("rerank_two_stage_ann", None)
def rerank_two_stage_ann(spark, sf_dir):
    """The serving-shape twin of ``rerank_two_stage`` (VERDICT r4 #1):
    stage-1 candidates come from the multiprobe-LSH tier through its
    ``queries=`` workload hook instead of the brute-force scorer, so
    per-query stage-1 cost is ~tables·probes·sqrt(n) bucket rows
    instead of a corpus-linear scan; stage-2 (the md5 model stand-in,
    the 0.7/0.3 blend, the final top-{_RERANK_K}) is byte-identical to
    the exact pipeline. Approximate by construction — no SQL oracle;
    gated instead by the end-to-end final-top-k recall test against
    the exact pipeline (≥0.9, ``tests/test_similarity.py``) and the
    sf1 probe's 20k row, mirroring how the other ANN rows are gated
    through ``ann_recall_report``."""
    return _rerank_pipeline(spark, sf_dir, stage1="lsh")


# ---------------------------------------------------------------------------
# Vocabulary heavy hitters (round 5; operators/heavy_hitters.py)
# ---------------------------------------------------------------------------


@_register(
    "token_heavy_hitters_mg",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKENS_SQL}) AS item FROM documents
    ), nn AS (
      SELECT item FROM toks WHERE item IS NOT NULL AND item <> ''
    ), tot AS (SELECT COUNT(*) AS n_total FROM nn)
    SELECT nn.item, COUNT(*) AS est_count, COUNT(*) AS max_count,
           MAX(tot.n_total) AS n_total
    FROM nn CROSS JOIN tot
    GROUP BY nn.item
    HAVING COUNT(*) > 0.02 * MAX(tot.n_total)
    """,
)
def token_heavy_hitters_mg(spark, sf_dir):
    """Corpus vocabulary heavy hitters via a Misra-Gries mergeable
    summary (``operators/heavy_hitters.py``): which tokens exceed 2%
    of all token occurrences — the stopword/boilerplate discovery pass
    a corpus pipeline runs before quality scoring, over a key space
    that at 100 TB is hundreds of millions of distinct tokens.  The
    sketch keeps k counters per partition (mapInPandas, O(k) state,
    one pass), merges <=P*k partial rows, and never shuffles one row
    per distinct key — ``groupBy(token).count()``'s fatal cost at that
    cardinality.

    Oracle regime: k=4096 far exceeds this corpus's distinct-token
    count, so no compress ever fires, the decrement total D is 0, and
    est_count == max_count == the exact count — byte-equal to the
    GROUP BY/HAVING oracle (that equality itself is part of what the
    hash pins).  The adversarial regime (k << distinct, forced
    compressions, zipf data) is covered by
    ``tests/test_heavy_hitters.py``: guaranteed recall of every item
    with true count > phi*n + D, and est <= true <= est + D against
    exact counts."""
    from udacity_capstone_data_engineering_spark.operators.heavy_hitters import (
        heavy_hitters,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("item")
    ).filter(F.col("item") != "")
    return heavy_hitters(toks, "item", k=4096, phi=0.02)


# ---------------------------------------------------------------------------
# Leakage-safe train/valid/test split (round 5): split by DEDUP CLUSTER
# ---------------------------------------------------------------------------


def _leakage_safe_split_sql() -> str:
    from udacity_capstone_data_engineering_spark.operators.sampling import (
        hash_split_case_sql,
    )
    from udacity_capstone_data_engineering_spark.queries import (
        _NEAR_DUP_CTES,
        NEAR_DUP_THRESHOLD,
    )

    case = hash_split_case_sql(
        "component", {"train": 0.8, "valid": 0.1, "test": 0.1}, seed=0
    )
    return f"""
    WITH RECURSIVE {_NEAR_DUP_CTES},
    good AS (SELECT id_a, id_b FROM jp WHERE jaccard >= {NEAR_DUP_THRESHOLD}),
    bidir AS (SELECT id_a AS a, id_b AS b FROM good
              UNION SELECT id_b, id_a FROM good),
    walk(node, label) AS (
        SELECT a AS node, a AS label FROM bidir
        UNION
        SELECT w.node, e.b AS label FROM walk w JOIN bidir e ON w.label = e.a),
    comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
    labeled AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    assigned AS (
        SELECT doc_id, component, {case} AS split FROM labeled),
    per AS (
        SELECT split, COUNT(*) AS n_docs,
               COUNT(DISTINCT component) AS n_clusters
        FROM assigned GROUP BY split),
    leaks AS (
        SELECT sa.split AS split, COUNT(*) AS cross_split_pairs
        FROM good
        JOIN assigned sa ON good.id_a = sa.doc_id
        JOIN assigned sb ON good.id_b = sb.doc_id
        WHERE sa.split <> sb.split GROUP BY sa.split)
    SELECT per.split, per.n_docs, per.n_clusters,
           CAST(COALESCE(leaks.cross_split_pairs, 0) AS BIGINT)
               AS cross_split_pairs
    FROM per LEFT JOIN leaks ON per.split = leaks.split
    """


@_register("leakage_safe_split", _leakage_safe_split_sql())
def leakage_safe_split(spark, sf_dir):
    """Train/valid/test assignment that cannot leak near-duplicates
    across splits: hash-split by DEDUP COMPONENT, not by document.
    Splitting by doc id puts the two halves of a near-dup pair in
    train and test with probability 2*p*(1-p) each — the classic
    eval-contamination bug; keying the portable md5 hash-split on the
    connected-component representative makes every near-dup cluster
    land whole in one split BY CONSTRUCTION. The output's
    ``cross_split_pairs`` column audits exactly that (edges whose
    endpoints disagree on split — structurally 0), alongside per-split
    doc and cluster counts; the oracle recomputes components with the
    recursive CTE and the same portable hash CASE, so the zero is
    verified, not asserted.

    Scale shape: reuses the LSH candidate path (no corpus self-join),
    component propagation on the edge list (O(diameter) rounds), a
    pure per-row hash CASE for assignment (no shuffle), and edge-keyed
    equi-joins for the audit. At 100 TB the added cost over plain
    splitting is just the dedup pass a training pipeline runs
    anyway."""
    from udacity_capstone_data_engineering_spark.operators.clusters import (
        dedup_groups,
    )
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from udacity_capstone_data_engineering_spark.operators.sampling import (
        hash_split,
    )
    from udacity_capstone_data_engineering_spark.queries import (
        NEAR_DUP_THRESHOLD,
    )

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    sigs = minhash_signatures(
        docs, "text", "doc_id", num_hashes=16, shingle_k=5
    )
    cands = lsh_candidate_pairs(sigs, "doc_id", bands=4)
    edges = jaccard_pairs(docs, "text", "doc_id", cands, shingle_k=5).filter(
        F.col("jaccard") >= NEAR_DUP_THRESHOLD
    )
    # The audit fans three branches off the assignment (per-split
    # aggregate + both endpoint lookups); persisting the doc-sized
    # (id, component, split) relation keeps the dedup chain to one
    # evaluation (same shared-aggregate pattern as tpch_q11).
    edges = edges.persist()
    groups = dedup_groups(docs, "doc_id", edges)
    assigned = hash_split(
        groups,
        "component",
        {"train": 0.8, "valid": 0.1, "test": 0.1},
        seed=0,
    ).persist()
    per = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component").alias("n_clusters"),
    )
    sa = assigned.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = assigned.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    leaks = (
        edges.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count(F.lit(1)).alias("cross_split_pairs"))
    )
    return per.join(leaks, "split", "left").select(
        "split",
        "n_docs",
        "n_clusters",
        F.coalesce(F.col("cross_split_pairs"), F.lit(0))
        .cast("long")
        .alias("cross_split_pairs"),
    )
