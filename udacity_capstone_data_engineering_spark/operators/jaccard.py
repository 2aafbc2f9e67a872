"""Exact n-gram Jaccard similarity self-join with prefix filtering.

The exact counterpart to the MinHash-LSH tier in ``operators/dedup.py``
(ref capability: dedup family; the reference itself only has exact
``dropDuplicates``, `etl.py:158,254` — this is the extension tier).

Naive exact Jaccard is an all-pairs O(n²) cross join — a non-starter at
100 TB. This module uses the standard *prefix-filtering* technique from
the set-similarity-join literature (Chaudhuri et al. SSJoin, Bayardo et
al. WWW'07 "Scaling Up All Pairs Similarity Search"): fix a global
total order over the shingle universe, and index only each document's
first ``|S| - ceil(t*|S|) + 1`` shingles under that order. Two sets
with Jaccard >= t must overlap in at least ``ceil(t/(1+t)*(|A|+|B|))``
elements, which forces their prefixes to share at least one element —
so joining on prefix shingles generates a candidate superset with NO
false negatives, and an exact verify pass removes the false positives.

Scale shape: candidate generation is one self-equi-join on prefix
shingle keys (linear output for natural text, vs quadratic for the
cross join), verification joins only the candidate list back to the
per-doc shingle sets. Everything is builtin higher-order functions —
no Python UDFs, no driver collects.

Shingles are carried as their 60-bit portable hashes (ints, not
strings) end-to-end: the global order is hash order (any total order
satisfies the prefix-filter theorem; hash order needs no global
document-frequency pass), and intersection sizes are computed over
hash sets. Distinct shingles colliding in 60 bits could in principle
merge (P ~ n_shingles² / 2^61 per doc — negligible, and the same
assumption already underpins ``exact_duplicates``' fingerprint key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.hashing import portable_hash64
from udacity_capstone_data_engineering_spark.functions.text import (
    shingles_from_tokens,
    tokens,
)


def _hash_sets(df: DataFrame, text_col: str, id_col: str, shingle_k: int) -> DataFrame:
    """(id, hset): sorted distinct 60-bit hashes of the doc's word
    k-shingles. Tokens and shingles are bound to real columns first —
    higher-order-function lambdas are not subexpression-eliminated, so
    leaving them nested re-runs the regex split per array element."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    shingled = toked.select(
        F.col(id_col),
        shingles_from_tokens(F.col("__toks"), k=shingle_k).alias("__sh"),
    )
    hset = F.array_sort(
        F.array_distinct(F.transform(F.col("__sh"), lambda s: portable_hash64(s)))
    )
    return shingled.select(F.col(id_col), hset.alias("hset"))


def _materialized_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """``_hash_sets`` behind a ``localCheckpoint`` plan barrier (r11,
    guide §1.2/§3.3): both similarity joins fan the sets relation into
    FOUR plan branches (probe prefixes, build index, verify side a,
    verify side b), and the two ``explode`` branches additionally push
    their implicit ``size(hset) > 0`` pruning filter below the
    projection — so the regex tokenize + shingle + hash pipeline ran
    up to SIX times per document (the r11 filter audit flagged the
    1.8 KB duplicated HOF condition in ``containment_pairs``).
    Materializing the slim (id, 8-byte-hash set) relation runs it
    ONCE; at scale this trades one write of the hash sets (far
    smaller than the text) against five recomputations of the
    dominant CPU stage."""
    return _hash_sets(df, text_col, id_col, shingle_k).localCheckpoint(
        eager=True
    )


def jaccard_similarity_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int = 5,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold,
    exactly — via prefix-filtered candidate generation + exact verify.

    Returns (id_a, id_b, jaccard) with jaccard rounded to 6.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sets = _materialized_sets(df, text_col, id_col, shingle_k)

    # Prefix length |S| - ceil(t*|S|) + 1 under the global hash order.
    # Docs with empty shingle sets (< k tokens) produce no prefix rows
    # (explode of an empty slice) and so never pair — correct, since
    # J(∅, anything) is 0 (or undefined), both < any valid threshold.
    n = F.size("hset")
    plen = n - F.ceil(n * F.lit(threshold)).cast("int") + 1
    prefix = sets.select(
        F.col(id_col), F.explode(F.slice("hset", 1, plen)).alias("ph")
    )

    right = prefix.select(F.col(id_col).alias("__idb"), F.col("ph"))
    cands = (
        prefix.join(right, "ph")
        .filter(F.col(id_col) < F.col("__idb"))
        .select(F.col(id_col).alias("id_a"), F.col("__idb").alias("id_b"))
        .distinct()
    )

    # Exact verify: join candidates back to the hash sets; sets are
    # sorted+distinct so intersection/union sizes are exact.
    a = sets.select(F.col(id_col).alias("id_a"), F.col("hset").alias("__ha"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("hset").alias("__hb"))
    verified = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__ha", "__hb"))
    union = F.size("__ha") + F.size("__hb") - inter
    jac = F.round(inter / F.greatest(union, F.lit(1)), 6)
    return verified.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int = 5,
) -> DataFrame:
    """Directional containment join: all ordered pairs (id_a, id_b),
    a ≠ b, with shingle containment |A∩B| / |A| >= threshold — "A is
    (mostly) inside B".

    The asymmetric sibling of :func:`jaccard_similarity_join`, and the
    measure Jaccard systematically misses: a 50-shingle quote fully
    embedded in a 5000-shingle article has containment 1.0 but Jaccard
    ≈ 0.01. Training pipelines need this direction for sub-document
    dedup (boilerplate inclusions, quoted passages) and benchmark
    decontamination.

    Prefix filter, containment version: c(A,B) >= t implies
    |A∩B| >= ceil(t·|A|), so A's first |A| - ceil(t·|A|) + 1 hashes
    under the global order must hit B — but B's MATCHING element may
    sit anywhere in B, so the probe side keeps prefixes while the
    build side indexes ALL its hashes (this asymmetry is why
    containment costs more than Jaccard at equal thresholds; output
    is still linear-ish for natural text vs the quadratic cross join).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sets = _materialized_sets(df, text_col, id_col, shingle_k)

    n = F.size("hset")
    plen = n - F.ceil(n * F.lit(threshold)).cast("int") + 1
    prefix = sets.select(
        F.col(id_col).alias("id_a"), F.explode(F.slice("hset", 1, plen)).alias("ph")
    )
    full = sets.select(F.col(id_col).alias("id_b"), F.explode("hset").alias("ph"))
    cands = (
        prefix.join(full, "ph")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    a = sets.select(F.col(id_col).alias("id_a"), F.col("hset").alias("__ha"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("hset").alias("__hb"))
    verified = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__ha", "__hb"))
    cont = F.round(inter / F.greatest(F.size("__ha"), F.lit(1)), 6)
    return verified.select("id_a", "id_b", cont.alias("containment")).filter(
        F.col("containment") >= threshold
    )
