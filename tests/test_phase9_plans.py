"""Plan-shape assertions for the round-5e tier: the scale properties
each operator claims must hold in the plans Catalyst actually builds."""

from __future__ import annotations

from tests.conftest import physical_plan as _plan


def test_inverted_index_group_limit_pushdown_both_levels(catalog):
    """The min-K tournament must get WindowGroupLimit at BOTH window
    levels (partial+final at the outer one), and no window may run
    unpartitioned."""
    plan = _plan(catalog["inverted_index_postings"])
    assert plan.count("WindowGroupLimit") >= 3  # inner + outer partial/final
    assert "SinglePartition" not in plan


def test_countmin_fanout_after_distinct_reduction(catalog):
    """The depth-fold Generate (posexplode) must sit ABOVE the per-key
    aggregate — occurrences are reduced to distinct keys before the
    x4 fan-out — and the grid reduction is a paired partial/final
    HashAggregate."""
    plan = _plan(catalog["token_countmin_sketch"])
    # the depth-fold fan-out is the posexplode Generate (the plain
    # "Generate explode" lower down is the tokenizer, not the fan-out)
    gen = plan.index("Generate posexplode")
    assert "partial_sum" in plan
    # the per-key exact count shuffles on (salt-grouping expr, key) and
    # must sit BELOW the fan-out: later in the top-down plan string
    key_agg = plan.index("Exchange hashpartitioning(_groupingexpression")
    assert gen < key_agg, "fan-out must consume the reduced per-key relation"


def test_gram_matrix_single_wide_exchange(catalog):
    """Map-only outer products: exactly ONE hashpartitioning exchange
    (the d^2-cell aggregation); no join anywhere."""
    plan = _plan(catalog["embedding_gram_matrix"])
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_repetition_no_raw_strings_in_shuffle_keys(catalog):
    """Branch shuffles key on (doc_id, 60-bit hash): every
    hashpartitioning that carries a branch key uses the bigint hash
    columns (lh/gh), never the raw line/gram strings."""
    plan = _plan(catalog["doc_repetition_flags"])
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "__line" not in keys and "__g#" not in keys, keys


def test_bm25_topk_is_take_ordered(catalog):
    plan = _plan(catalog["bm25_topk_docs"])
    assert "TakeOrderedAndProject(limit=50" in plan
    assert "CartesianProduct" not in plan
