"""Exact-integer Lloyd k-means: iterative ML under the value-hash gate.

Second application of the PageRank pattern (`clusters.pagerank_fixed`):
run a fixed number of iterations with every quantity an exact BIGINT,
so the fixpoint of the recurrence is bit-equal across engines,
partitionings, and shuffles — which lets an iterative ML algorithm
carry a full DuckDB oracle (the recurrence unrolled as CTE blocks)
instead of a weaker rows-only check.

Recurrence (all integers):
- quantize: qv[i] = floor(x[i] * scale + 1/2)  (floor-round; Spark
  HALF_UP vs DuckDB half-even `round` never enters the picture)
- init: centroids 0..k-1 are the quantized vectors of the k smallest
  ids (deterministic, oracle-trivial); duplicate ids break the tie by
  the quantized vector (lexicographic), NULL ids sort last
- assign: nearest centroid by integer squared L2; ties -> smallest
  centroid id (first minimum)
- update: per dimension, floor(sum / count) (true floor division —
  sums go negative; spelled pmod-style in the oracle so both engines
  agree without float analysis); empty clusters keep their previous
  centroid

Degenerate rows: the corpus dim is the length of the first non-NULL
vector. A row whose quantized vector is NULL, holds a NULL or ±inf
element or is not of the corpus dim takes no part in the fit and gets
a NULL ``cluster`` and ``dist_sq``. (A NaN element quantizes to 0 —
Java's long conversion of floor(NaN) — so its row is an ordinary
member.)

One nearest-centroid function, ``_nearest`` (numpy int64), serves
both regimes. Under ``KMEANS_DRIVER_MAX_BYTES`` /
``KMEANS_DRIVER_MAX_WORK`` the quantized relation is collected once
and the whole recurrence runs on the driver. Past either cap runs the
MLlib KMeans layout, which IS the 100 TB design: centroids live on
the driver (k x d integers) and are broadcast to a map-only Arrow
kernel (``_assign_kernel``) that runs ``_nearest`` per batch — no
shuffle; the update is one aggregate producing k rows x d sum columns
with map-side partial combine, collected to the driver (k x d values
— the canonical bounded collect, same class as the PQ fit sample).
Per iteration: one job, shuffle bytes O(partitions * k * d).
Construction is necessarily eager (an iterative fixpoint
materializes per round, like ``.fit()``); callers wanting pure plan
inspection should use a single iteration.

Overflow bound: |qv| <= scale * max|x|; dist <= d * (2 * scale *
max|x|)^2 — at scale 1024, d 64, |x| <= 32 that is ~2.7e11, far
under 2^63. Update sums are |n * scale * max|x|| — safe past 1e13
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

K = 4
ITERATIONS = 3
SCALE = 1024

# Driver-Lloyd regime bounds (r12, guide §1.2: the distributed loop is
# 2+iterations full job barriers — init collect, one agg collect per
# iteration, the final checkpoint — each ~0.45 s of fixed overhead at
# bench scale regardless of data volume). Under BOTH caps the quantized
# relation collects once and the whole recurrence runs in numpy int64
# on the driver. Every quantity is an exact integer (module docstring),
# so the driver loop is BIT-EQUAL to the distributed one — same init,
# same ``_nearest``, same floor-division update, same empty-cluster
# rule — pinned by test_kmeans_driver_regime_bit_equal. Past either
# cap (the 100 TB shape) the distributed loop runs.
KMEANS_DRIVER_MAX_BYTES = 64 * 1024 * 1024  # collected n x d int64 matrix
KMEANS_DRIVER_MAX_WORK = 256_000_000  # n*k*d int ops per assign pass


def _quantize(vecs: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    """``(vid, qv)``: a ±inf element quantizes to NULL (its long
    conversion would clamp to ±(2^63-1) and wrap the int64 distances),
    so its row stays out of the fit like a NULL element's."""

    def q(x):
        x = x.cast("double")
        return F.when(
            F.abs(x) != F.lit(float("inf")),
            F.floor(x * scale + F.lit(0.5)).cast("long"),
        )

    return vecs.select(
        F.col(id_col).alias("vid"), F.transform(F.col(vec_col), q).alias("qv")
    )


def _rows_of_dim(qv, d: int):
    """``(ok, mat)`` of a pyarrow list array of quantized vectors: ``ok``
    marks the rows that are non-NULL, ``d`` long and free of NULL
    elements; ``mat`` is their ``(ok.sum(), d)`` int64 matrix. Sliced
    arrays are honoured (``flatten`` starts at the slice offset and
    skips the values under NULL rows)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(qv, pa.ChunkedArray):
        qv = qv.combine_chunks()
    lens = qv.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    ok = qv.is_valid().to_numpy(zero_copy_only=False) & (lens == d)
    flat = qv.flatten()
    parent = np.repeat(np.arange(len(qv)), lens)
    if flat.null_count:
        ok[parent[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    vals = flat.fill_null(0).to_numpy(zero_copy_only=False)
    return ok, vals[ok[parent]].reshape(int(ok.sum()), d)


def _nearest(mat, cents):
    """``(cluster, dist_sq)`` of each row of an int64 matrix against an
    int64 centroid matrix: the expanded squared L2 in exact int64
    (per-term bound in the module docstring) and the FIRST minimum as
    the argmin, so a tie goes to the smallest centroid id. Row blocks
    keep the distance scratch near 4M int64s whatever k is. The only
    nearest-centroid code of the package: the driver regime runs it
    on the collected matrix, ``_assign_kernel`` on every batch."""
    import numpy as np

    lab = np.zeros(len(mat), dtype=np.int32)
    dist = np.zeros(len(mat), dtype=np.int64)
    c2 = (cents * cents).sum(axis=1)
    step = max(64, (4 << 20) // max(1, len(cents)))
    for s in range(0, len(mat), step):
        x = mat[s : s + step]
        d2 = (x * x).sum(axis=1, keepdims=True) - 2 * (x @ cents.T) + c2
        lab[s : s + step] = d2.argmin(axis=1)
        dist[s : s + step] = d2[np.arange(len(x)), lab[s : s + step]]
    return lab, dist


def _masked(ok, lab, dist):
    """The ``cluster`` and ``dist_sq`` Arrow columns of ``_nearest``'s
    answer for the ``ok`` rows, NULL on the others."""
    import numpy as np
    import pyarrow as pa

    cluster = np.zeros(len(ok), dtype=np.int32)
    dist_sq = np.zeros(len(ok), dtype=np.int64)
    cluster[ok], dist_sq[ok] = lab, dist
    return pa.array(cluster, mask=~ok), pa.array(dist_sq, mask=~ok)


def _assign_kernel(
    q: DataFrame, cents: list[list[int]], d: int, _bc_out: list | None = None
) -> DataFrame:
    """Map-only nearest-centroid assignment of a quantized relation
    ``(vid, qv)``: an Arrow kernel over BROADCAST int64 centroids
    (k x d — SemDeDup's LAION configuration is 50k x 64 = 25 MB, well
    under any broadcast budget) that runs ``_nearest`` on the rows of
    dim ``d`` of each batch. Returns ``(vid, qv, cluster, dist_sq)``;
    ``cluster`` and ``dist_sq`` are NULL on the other rows, and on
    every row when there are no centroids."""
    import numpy as np

    bc = q.sparkSession.sparkContext.broadcast(
        np.array(cents, dtype=np.int64).reshape(len(cents), d)
    )
    if _bc_out is not None:
        # ADVICE r6: each kernel call pins a k x d int64 broadcast
        # (~25 MB at the LAION shape) on every executor for the
        # application lifetime. Callers that fully consume the result
        # (the Lloyd loop's per-iteration collect) pass a list here
        # and unpersist after consumption.
        _bc_out.append(bc)

    def run(batches):
        import pyarrow as pa

        c = bc.value
        for b in batches:
            ok, mat = _rows_of_dim(b.column(1), d)
            if not len(c):
                ok[:], mat = False, mat[:0]
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), *_masked(ok, *_nearest(mat, c))],
                ["vid", "qv", "cluster", "dist_sq"],
            )

    id_type = q.schema["vid"].dataType.simpleString()
    return q.select("vid", "qv").mapInArrow(
        run, f"vid {id_type}, qv array<long>, cluster int, dist_sq long"
    )


def _lloyd_driver(rank, mat, k: int, iterations: int):
    """The Lloyd recurrence over the collected corpus-dim rows, in numpy
    int64: init from the first k rows in (id ``rank``, quantized vector)
    order, ``_nearest`` for every assign, the ``//`` floor-division
    update (numpy int64 floor_divide == Python ``//``), empty clusters
    keep their centroid. Exact, so bit-equal to the distributed loop.
    Returns the final centroid matrix."""
    import numpy as np

    cents = mat[np.lexsort([*mat.T[::-1], rank])[:k]].copy()  # (k, d)
    for _ in range(iterations):
        lab, _d = _nearest(mat, cents)
        counts = np.bincount(lab, minlength=len(cents))
        sums = np.zeros_like(cents)
        np.add.at(sums, lab, mat)
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] // counts[nonempty, None]
    return cents


def kmeans_int(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
    _cents_out: list | None = None,
) -> DataFrame:
    """Fixed-iteration integer Lloyd; returns the FINAL assignment
    ``(id_col, cluster, dist_sq)`` of every input row after
    ``iterations`` update rounds (NULL on the rows outside the fit —
    module docstring). Ids keep their type. Pass ``_cents_out=[]`` to
    also receive the final centroid matrix (min(k, fitted rows) lists
    of d ints) — the incremental SemDeDup tier assigns NEW batches
    against these standing centroids without re-clustering."""
    import pyarrow.compute as pc

    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    head = (
        vecs.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .head()
    )
    d = 0 if head is None else int(head["d"])
    q = _quantize(vecs, id_col, vec_col, scale)

    # ---- driver regime (r12): under the caps, collect the quantized
    # relation once and run the whole recurrence in numpy int64 — 1
    # job instead of 2 + iterations job barriers. The LIMIT enforces
    # the cap without a count job; the work gate keeps a big-k fit off
    # the driver even when the matrix fits.
    max_rows = min(
        KMEANS_DRIVER_MAX_BYTES // (8 * max(1, d)),
        KMEANS_DRIVER_MAX_WORK // max(1, k * d),
    )
    tbl = q.limit(max_rows + 1).toArrow()
    if tbl.num_rows <= max_rows:
        from udacity_capstone_data_engineering_spark.session import local_df

        ok, mat = _rows_of_dim(tbl.column("qv"), d)
        rank = pc.rank(
            tbl.column("vid"),
            sort_keys="ascending",
            null_placement="at_end",
            tiebreaker="dense",
        ).to_numpy()
        cents = _lloyd_driver(rank[ok], mat, k, iterations)
        cluster, dist_sq = _masked(ok, *_nearest(mat, cents))
        if _cents_out is not None:
            _cents_out.extend(cents.tolist())
        id_type = q.schema["vid"].dataType.simpleString()
        return local_df(
            vecs.sparkSession,
            zip(
                tbl.column("vid").to_pylist(),
                cluster.to_pylist(),
                dist_sq.to_pylist(),
            ),
            f"{id_col} {id_type}, cluster int, dist_sq long",
        )

    # Widen a too-narrow scan BEFORE persisting: a one-file corpus
    # otherwise serializes every assign kernel on a single worker —
    # the sf10 probe measured the k=3125 kernel pegging ONE core for
    # ~30 min on a single-partition 200k-vector parquet. No-op when
    # the scan already has >= default-parallelism partitions.
    q = fan_out_small_scan(q).persist()
    fits = (F.size("qv") == d) & ~F.exists("qv", lambda x: x.isNull())
    init = (
        q.filter(fits)
        .orderBy(F.col("vid").asc_nulls_last(), "qv")
        .limit(k)
        .collect()
    )
    cents = [list(r["qv"]) for r in init]
    # One parsed struct expression instead of d F.sum(element_at())
    # Column builds per iteration (the d=64 column list alone cost
    # ~0.3 s of driver wall per iteration, one py4j round-trip each).
    # `qv[i]` is 0-based in SQL — identical to element_at(qv, i+1);
    # rows outside the fit (NULL cluster) never reach it.
    sums_expr = F.expr(
        "struct(" + ",".join(f"sum(qv[{i}]) AS s{i}" for i in range(d)) + ")"
    ).alias("sums")
    for _ in range(iterations):
        bcs: list = []
        rows = (
            _assign_kernel(q, cents, d, bcs)
            .filter(F.col("cluster").isNotNull())
            .groupBy("cluster")
            .agg(F.count("*").alias("c"), sums_expr)
            .collect()
        )
        # The collect fully consumed this iteration's assignment —
        # release its centroid broadcast (ADVICE r6: they otherwise
        # accumulate iterations+2 x ~25 MB per run on every executor).
        for bc in bcs:
            bc.unpersist(blocking=False)
        for r in rows:  # an empty cluster keeps its previous centroid
            s = r["sums"]
            cents[r["cluster"]] = [s[f"s{i}"] // r["c"] for i in range(d)]
    # r11 (guide §1.2/§3.3): materialize the FINAL assignment while q
    # is still cached. The returned lineage used to re-run quantize +
    # assign from the raw scan on every downstream evaluation (the
    # unpersist below fires before any consumer evaluates), and
    # multi-branch consumers (semantic dedup joins it twice) paid it
    # once per branch. The assignment is 3 columns/row — the
    # canonical slim decision relation (guide §8) — so one
    # materialization replaces every recomputation, and at scale it is
    # exactly what MLlib's fit/transform split materializes too.
    out = (
        _assign_kernel(q, cents, d)
        .select(F.col("vid").alias(id_col), "cluster", "dist_sq")
        .localCheckpoint(eager=True)
    )
    q.unpersist()
    if _cents_out is not None:
        _cents_out.extend(cents)
    return out


def kmeans_oracle_blocks(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | str = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
) -> tuple[list[str], str]:
    """The recurrence unrolled as CTE blocks, returned as
    ``(blocks, final_assignment_cte_name)`` so composite oracles
    (semantic dedup) can extend the same WITH chain. Floor division is
    spelled ``(s - ((s % c) + c) % c) / c`` — exact in pure integers,
    equal to Python's ``//`` for negative sums too.

    ``k`` may be an int (the pinned-k rows) or a SQL scalar expression
    string (the auto-k tier: the cluster count derives from
    ``count(*)`` of the quantized relation, so the oracle stays valid
    when k scales with the corpus — the unrolling is per-ITERATION,
    never per-k, which is what makes dynamic k expressible)."""
    k_expr = f"({k})" if isinstance(k, str) else str(int(k))
    blocks = [
        f"""q AS (
      SELECT {id_col} AS vid,
             list_transform({vec_col},
                 x -> CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT))
               AS qv
      FROM {table}),
    vdim AS (
      SELECT vid, u.dim AS dim, u.val AS val FROM (
        SELECT vid, unnest(list_transform(range(1, len(qv) + 1),
                   i -> {{'dim': i, 'val': qv[i]}})) AS u
        FROM q)),
    cdim_0 AS (
      SELECT CAST(rn - 1 AS INTEGER) AS cid, dim, val FROM (
        SELECT vid, row_number() OVER (ORDER BY vid) AS rn FROM q) r
      JOIN vdim USING (vid) WHERE rn <= {k_expr})"""
    ]
    for t in range(1, iterations + 2):
        prev = f"cdim_{t - 1}"
        blocks.append(
            f"""dist_{t} AS (
      SELECT v.vid, c.cid,
             sum((v.val - c.val) * (v.val - c.val)) AS dist_sq
      FROM vdim v JOIN {prev} c USING (dim)
      GROUP BY v.vid, c.cid),
    asg_{t} AS (
      SELECT vid, cid AS cluster, dist_sq FROM (
        SELECT vid, cid, dist_sq,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY dist_sq, cid) AS rn
        FROM dist_{t}) WHERE rn = 1)"""
        )
        if t <= iterations:
            blocks.append(
                f"""new_{t} AS (
      SELECT a.cluster AS cid, v.dim,
             sum(v.val) AS s, count(*) AS c
      FROM asg_{t} a JOIN vdim v USING (vid)
      GROUP BY a.cluster, v.dim),
    cdim_{t} AS (
      SELECT p.cid, p.dim,
             CASE WHEN n.c IS NULL THEN p.val
                  ELSE CAST((n.s - (((n.s % n.c) + n.c) % n.c)) / n.c
                            AS BIGINT)
             END AS val
      FROM {prev} p LEFT JOIN new_{t} n
        ON p.cid = n.cid AND p.dim = n.dim)"""
            )
    return blocks, f"asg_{iterations + 1}"


def kmeans_int_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = K,
    iterations: int = ITERATIONS,
    scale: int = SCALE,
) -> str:
    blocks, final = kmeans_oracle_blocks(
        table, id_col, vec_col, k, iterations, scale
    )
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT vid AS {id_col}, cluster, CAST(dist_sq AS BIGINT) AS dist_sq
    FROM {final}
    """
    )
