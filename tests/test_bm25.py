"""BM25 semantic test: the registered query must reproduce a plain
Python BM25 implementation on the same corpus (the oracle already
bit-gates Spark vs DuckDB; this guards the FORMULA itself)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from udacity_capstone_data_engineering_spark.queries.retrieval import (
    _BM25_B,
    _BM25_K1,
    _BM25_TERMS,
    _BM25_TOPN,
    bm25_topk_docs,
)
from udacity_capstone_data_engineering_spark.sources.catalog import load_table


def _python_bm25(docs):
    tf = {}
    df = Counter()
    dl = {}
    for doc_id, text in docs:
        toks = [t for t in text.strip().lower().split() if t]
        c = Counter(toks)
        tf[doc_id] = c
        dl[doc_id] = len(toks)
        for t in c:
            df[t] += 1
    n_docs = len(docs)
    avgdl = sum(dl.values()) / n_docs
    terms = sorted(df, key=lambda t: (df[t], t))[:_BM25_TERMS]
    scores = defaultdict(float)
    matched = defaultdict(int)
    for doc_id in tf:
        for t in terms:
            f = tf[doc_id].get(t, 0)
            if not f:
                continue
            idf = math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            c = idf * f * (_BM25_K1 + 1) / (
                f + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl[doc_id] / avgdl)
            )
            scores[doc_id] += round(c, 9)
            matched[doc_id] += 1
    ranked = sorted(
        ((round(s, 6), d) for d, s in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:_BM25_TOPN]
    return {d: (s, matched[d]) for s, d in ranked}


def test_bm25_matches_python_reference(spark, sf_dir):
    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_dir, "documents").collect()
    ]
    want = _python_bm25(docs)
    got = {
        r["doc_id"]: (r["score"], r["n_matched"])
        for r in bm25_topk_docs(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for d in got:
        assert got[d][1] == want[d][1]
        assert abs(got[d][0] - want[d][0]) < 1e-5, (d, got[d], want[d])


def test_bm25_more_hits_scores_higher(spark):
    # Same doc length; the doc hitting the rare term twice must outrank
    # the doc hitting it once.
    # 2-token vocabulary so both terms are in the workload; equal doc
    # lengths; doc1 trades a 'pad' for an extra hit on the rarer term,
    # and idf * tf-saturation makes that trade strictly score-positive.
    rows = [
        (1, "rare rare pad pad"),
        (2, "rare pad pad pad"),
        (3, "pad pad pad pad"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    import udacity_capstone_data_engineering_spark.sources.catalog as cat

    orig = cat.load_table
    try:
        cat.load_table = lambda spark_, sf_dir_, name_: df  # documents only
        from udacity_capstone_data_engineering_spark.queries import retrieval as p9

        orig_lt = p9.load_table
        p9.load_table = cat.load_table
        try:
            out = {
                r["doc_id"]: r["score"]
                for r in p9.bm25_topk_docs(spark, "unused").collect()
            }
        finally:
            p9.load_table = orig_lt
    finally:
        cat.load_table = orig
    assert out[1] > out[2]
