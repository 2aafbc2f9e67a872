"""Z-order clustered writes: multi-dimensional data-skipping layout.

The partitioned catalog (``sources/catalog.py``) prunes on ONE
directory key; bucketing (``sources/sinks.py``) co-locates ONE join
key.  The third at-rest lever a 100 TB fact table needs is
multi-dimensional clustering: when scans filter on several columns
(``ts`` AND ``value``; ``customer`` AND ``date``), sorting by any one
column leaves the others scattered across every file, so parquet
row-group min/max statistics skip nothing for them.  Interleaving the
bits of equi-depth bucket ids (a Z-order / Morton curve) gives every
file a compact hyper-rectangle in ALL clustered dimensions at once —
the same layout lever Delta/Iceberg expose as ``OPTIMIZE ZORDER BY``,
built here from plain DataFrame ops:

  1. Per-column equi-depth bucket ids from approx-quantile fences
     (equi-depth, not equi-width, so skewed columns still spread over
     the full 2^bits range).  All fences come from ONE lazy 1-row
     aggregate broadcast-cross-joined back — same structural-agreement
     pattern as ``operators/ranking.py`` (no job at plan time; one
     BroadcastExchange reused by every consumer).
  2. A JVM-side bit-interleave of the bucket ids
     (``functions/zorder.morton_interleave`` — the same curve
     convention as the raw oracle-twinned ``morton_code`` tier; pure
     expression tree, whole-stage codegen, no UDF).
  3. ``repartitionByRange`` on the z-key (contiguous curve segments
     per output file) + ``sortWithinPartitions`` (contiguous segments
     per ROW GROUP within each file), then a plain parquet write.

Scale notes: the only wide exchange is the range partition the
rewrite needs anyway; fences are a 1-row aggregate.  Readers need no
special support — pushed range predicates on the clustered columns
skip row groups through ordinary parquet statistics filtering
(asserted file-level in ``tests/test_layout.py``).

Two tiers share one curve: ``functions/zorder.py`` holds the raw 2-D
``morton_code`` expression over caller-quantized ints (oracle-twinned
via ``zorder_layout_keys``); this module is the MANAGED write path —
N columns, arbitrary orderable types, skew-robust equi-depth
quantile bucketing, and the range-partitioned sorted write — built on
the same ``morton_interleave``.

Reference parity: the reference stopped at flat snappy parquet
(etl.py:56,87,130,180,225,264); this is the engine's extension tier,
alongside date partitioning (notebook cell 45 proposal) and
bucketing.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.functions.zorder import (
    morton_interleave,
)
from udacity_capstone_data_engineering_spark.operators.ranking import (
    _key_as_double,
)
from udacity_capstone_data_engineering_spark.sources.sinks import (
    write_parquet,
)

Z_COL = "__z_key"


def with_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    rel_err: float = 0.01,
    out_col: str = Z_COL,
) -> DataFrame:
    """Append a Morton z-key over ``cols`` (2-4 recommended).

    Buckets are equi-depth: fences at quantiles 1/2^bits .. (2^bits-1)/
    2^bits of each column's monotone double image (dates/timestamps via
    epoch micros — ``ranking._key_as_double``).  NULLs take bucket 0,
    matching nulls-first range placement.  All per-column fence arrays
    come from one lazy 1-row aggregate so plan construction runs no
    jobs."""
    if not cols:
        raise ValueError("zorder needs at least one column")
    n_b = 1 << bits
    probs = F.array(*[F.lit(i / n_b) for i in range(1, n_b)])
    acc = F.lit(max(100, int(round(1.0 / rel_err))))
    fence_aliases = [f"__z_f{j}" for j in range(len(cols))]
    fence_row = df.agg(
        *[
            F.percentile_approx(
                _key_as_double(df, F.col(c)), probs, acc
            ).alias(a)
            for c, a in zip(cols, fence_aliases)
        ]
    )
    # Bucket id = count of fences strictly below kd. The fences are
    # sorted (non-decreasing quantiles), so that count equals the
    # largest 1-based index with arr[idx] < kd — found by a BINARY
    # SEARCH unrolled into ``bits`` chained PROJECTIONS (one element_at
    # probe + compare + add per level, each level bound as a real
    # column so the next references an attribute, never a copy of the
    # subtree: inlining the recurrence builds a 3^bits expression tree
    # that took Catalyst ~70 s to ANALYZE, the r5 k-means assign trap; and
    # morton_interleave references each bucket ``bits`` times, which
    # multiplied the old spelling again). The previous spelling —
    # size(filter(arr, f -> f < kd)) — walked all 2^bits-1 fences per
    # row per column per reference through the interpreted
    # higher-order-function path: measured 2x ~2.2 s of
    # zorder_layout_roundtrip's wall at sf0.1 (r11). Exactness: arr[i]
    # < kd is monotone non-increasing in i; lo+step never exceeds
    # 2^bits-1 (the remaining steps sum to 2*step-1); a NULL/NaN kd or
    # NULL fence row compares false/null everywhere so lo stays 0 —
    # the same bucket the old NULL guards produced.
    kd_cols = [f"__z_kd{j}" for j in range(len(cols))]
    lo_cols = [f"__z_lo{j}" for j in range(len(cols))]
    out = df.crossJoin(F.broadcast(fence_row)).select(
        "*",
        *[
            _key_as_double(df, F.col(c)).alias(kdc)
            for c, kdc in zip(cols, kd_cols)
        ],
        *[F.lit(0).cast("long").alias(lc) for lc in lo_cols],
    )
    keep = [c for c in out.columns if c not in set(lo_cols)]
    for level in range(bits - 1, -1, -1):
        step = F.lit(1 << level)
        out = out.select(
            *keep,
            *[
                F.when(
                    F.element_at(
                        F.col(a), (F.col(lc) + step).cast("int")
                    )
                    < F.col(kdc),
                    F.col(lc) + step,
                )
                .otherwise(F.col(lc))
                .alias(lc)
                for a, kdc, lc in zip(fence_aliases, kd_cols, lo_cols)
            ],
        )
    buckets = [
        F.when(F.col(kdc).isNull(), F.lit(0).cast("long")).otherwise(
            F.col(lc)
        )
        for kdc, lc in zip(kd_cols, lo_cols)
    ]
    return out.withColumn(out_col, morton_interleave(buckets, bits)).drop(
        *fence_aliases, *kd_cols, *lo_cols
    )


def write_zordered(
    df: DataFrame,
    cols: Sequence[str],
    base_path: str,
    name: str,
    bits: int = 8,
    n_files: int | None = None,
    max_records_per_file: int | None = None,
) -> str:
    """Rewrite ``df`` z-ordered on ``cols`` as parquet under
    ``base_path/name``; returns the path.

    ``repartitionByRange`` on the z-key gives each output file a
    contiguous curve segment (compact per-file hyper-rectangles →
    file-level skipping); ``sortWithinPartitions`` orders rows inside
    each file so every parquet ROW GROUP is a sub-segment (row-group-
    level skipping via ordinary statistics pushdown).  The z-key is
    dropped before the write — the layout, not the column, is the
    product.  Size ``n_files`` so one file ≈ one row group budget at
    the target scale."""
    keyed = with_zorder_key(df, cols, bits=bits)
    parts = (
        keyed.repartitionByRange(n_files, F.col(Z_COL))
        if n_files
        else keyed.repartitionByRange(F.col(Z_COL))
    )
    ordered = parts.sortWithinPartitions(Z_COL).drop(Z_COL)
    return write_parquet(
        df=ordered,
        base_path=base_path,
        name=name,
        max_records_per_file=max_records_per_file,
    )
