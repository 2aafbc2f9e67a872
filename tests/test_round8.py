"""Round-8 regression battery: the five ADVICE-r7 defects plus the
VERDICT-r7 #6 byte-cap-fallback equivalence gate for the exact-cosine
anchors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators import similarity


# ---------------------------------------------------------------------------
# ADVICE r7 (medium): the exact-cosine kernel must never crash on NULL
# or ragged-dimension vectors — excluded ids score NULL, like the
# expression path.
# ---------------------------------------------------------------------------


def test_kernel_pairs_degenerate_vectors_null_not_crash(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, None),  # NULL vector: np.array would raise pre-fix
            (4, [1.0]),  # ragged short
            (5, [1.0, 0.0, 3.0]),  # ragged long
            (6, [0.0, 0.0]),  # zero norm
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity._exact_cosine(
            emb, "vec_id", "embedding"
        ).collect()
    }
    assert len(got) == 30  # all ordered pairs survive, none dropped
    assert got[(1, 2)] == 0.0
    for q, n in got:
        if q in (3, 4, 5, 6) or n in (3, 4, 5, 6):
            assert got[(q, n)] is None, (q, n, got[(q, n)])


def test_kernel_pairs_all_degenerate_returns_all_null(spark):
    emb = spark.createDataFrame(
        [(1, None), (2, [1.0])],
        "vec_id long, embedding array<double>",
    )
    # dim probe hits the first non-null head row; whatever regime runs,
    # the job must complete with NULL cosines, not crash.
    rows = similarity._exact_cosine(emb, "vec_id", "embedding").collect()
    assert {r.cosine for r in rows} == {None}


# ---------------------------------------------------------------------------
# ADVICE r7 (low): dot_unrolled tail-drop — a query vector LONGER than
# the probed corpus dim must score NULL (zip_with null-padding
# semantics), never a silently-truncated non-NULL cosine.
# ---------------------------------------------------------------------------


def test_pairwise_cosine_external_queries_longer_vector_nulls(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0, 9.0]), (11, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity._exact_cosine(
            emb, "vec_id", "embedding", queries=queries
        ).collect()
    }
    # longer-than-dim query: every pair NULL (pre-fix: non-NULL wrong
    # cosine from the dropped tail)
    assert got[(10, 1)] is None and got[(10, 2)] is None
    # conforming query still scores through the unrolled fast path
    assert got[(11, 1)] == 1.0 and got[(11, 2)] == 0.0


# ---------------------------------------------------------------------------
# ADVICE r7 (low): kernel broadcasts are content-cached and evicted
# with unpersist — a catalog run no longer accretes one 256 MiB
# broadcast per anchor invocation.
# ---------------------------------------------------------------------------


def test_kernel_broadcast_reused_and_bounded(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    similarity._KERNEL_BC.clear()
    similarity._exact_cosine(emb, "vec_id", "embedding").collect()
    assert len(similarity._KERNEL_BC) == 1
    (bc1,) = similarity._KERNEL_BC.values()
    similarity._exact_cosine(emb, "vec_id", "embedding").collect()
    assert list(similarity._KERNEL_BC.values()) == [bc1]  # reused, not re-broadcast
    # distinct corpora rotate through the bounded registry
    for i in range(similarity._KERNEL_BC_MAX + 2):
        other = spark.createDataFrame(
            [(1, [1.0, float(i)]), (2, [0.5, 0.5])],
            "vec_id long, embedding array<double>",
        )
        similarity._exact_cosine(other, "vec_id", "embedding").collect()
    assert len(similarity._KERNEL_BC) <= similarity._KERNEL_BC_MAX
    similarity._KERNEL_BC.clear()


# ---------------------------------------------------------------------------
# ADVICE r7 (low): a truncated RIFF header is CORRUPT (ValueError), not
# 'unsupported' — byte-truncated WAV crawl objects land in the right
# quarantine bucket.
# ---------------------------------------------------------------------------


def test_decode_wav_truncated_riff_header_is_corrupt():
    from udacity_capstone_data_engineering_spark.operators.audio import (
        decode_wav,
    )

    with pytest.raises(ValueError, match="truncated header"):
        decode_wav(b"RIFF\x00\x00")
    with pytest.raises(ValueError, match="truncated header"):
        decode_wav(b"RIFF")
    # non-RIFF stays unsupported
    with pytest.raises(NotImplementedError, match="unrecognized audio"):
        decode_wav(b"ID3\x03" + bytes(40))
    # RIFF but a different form type (AVI ) is unsupported, not corrupt
    with pytest.raises(NotImplementedError, match="unrecognized RIFF form"):
        decode_wav(b"RIFF" + (4).to_bytes(4, "little") + b"AVI " + bytes(8))


# ---------------------------------------------------------------------------
# VERDICT r7 #3: audio/video near-dup tiers — the shared gradient-sign
# fingerprint kernel, planted near-dup fixtures, and the pigeonhole
# losslessness of the 15-bit / 3-band shape.
# ---------------------------------------------------------------------------


def test_gradient_sign_fingerprint_packs_expected_bits(spark):
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        gradient_sign_fingerprint,
    )

    # id 1: values 3,5,2,2,9 -> gradients (3<5)=1,(5<2)=0,(2<2)=0,(2<9)=1
    #   -> bits 1001 little-endian = 0b1001 = 9
    # id 2: strictly increasing -> all nbits set
    rows = [(1, j, v) for j, v in enumerate([3, 5, 2, 2, 9])]
    rows += [(2, j, j) for j in range(5)]
    df = spark.createDataFrame(rows, "id long, j int, v long")
    got = {
        r.id: r.fingerprint
        for r in gradient_sign_fingerprint(df, "id", "j", "v", 4).collect()
    }
    assert got == {1: 0b1001, 2: 0b1111}


def test_gradient_sign_fingerprint_rejects_wide_nbits(spark):
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        gradient_sign_fingerprint,
    )

    df = spark.createDataFrame([(1, 0, 0)], "id long, j int, v long")
    with pytest.raises(ValueError, match="BIGINT"):
        gradient_sign_fingerprint(df, "id", "j", "v", 64)


def test_audio_near_dup_planted_pair(spark):
    """Two WAVs whose sample streams differ by a uniform gain shift
    have IDENTICAL envelope fingerprints (gradient signs are
    gain-invariant); a third with a reshaped envelope is no near-dup."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.audio import (
        audio_frame_energy,
        encode_wav,
    )
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        gradient_sign_fingerprint,
        simhash_near_dup_pairs,
    )

    base = np.arange(1, 65, dtype=np.int16) * 7  # strictly rising envelope
    clone = (base * 2).astype(np.int16)  # uniform gain x2
    # falling envelope: reversed -> every gradient sign flips
    far = base[::-1].copy()
    df = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(base))),
            (2, bytearray(encode_wav(clone))),
            (3, bytearray(encode_wav(far))),
        ],
        "doc_id long, payload binary",
    )
    fe = audio_frame_energy(df, "payload", "doc_id", frame=4)
    fp = gradient_sign_fingerprint(fe, "doc_id", "frame_idx", "energy", 15)
    vals = {r.doc_id: r.fingerprint for r in fp.collect()}
    assert vals[1] == vals[2] == (1 << 15) - 1  # all-rising, gain-invariant
    assert vals[3] == 0  # all-falling
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(
            fp, "doc_id", sig_col="fingerprint", bits=15, bands=3
        ).collect()
    }
    assert pairs == {(1, 2): 0}  # the clone pair, and ONLY it


def test_video_near_dup_planted_pair(spark):
    """Two videos with the same scene structure but a uniform
    brightness shift share a scene fingerprint; a reversed-structure
    video does not pair with them."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.operators.dedup import (
        gradient_sign_fingerprint,
        simhash_near_dup_pairs,
    )
    from udacity_capstone_data_engineering_spark.operators.video import (
        encode_ppmv,
        video_row_luma,
    )
    from pyspark.sql import functions as F

    h, w = 4, 8

    def vid(rising: bool, shift: int):
        frames = []
        for f in range(4):
            img = np.zeros((h, w, 3), dtype=np.uint8)
            for r in range(h):
                j = f * h + r
                level = (10 + 12 * j) if rising else (10 + 12 * (15 - j))
                img[r, :, :] = min(255, level + shift)
            frames.append(img)
        return encode_ppmv(frames)

    df = spark.createDataFrame(
        [
            (1, bytearray(vid(True, 0))),
            (2, bytearray(vid(True, 40))),  # brightness-shifted twin
            (3, bytearray(vid(False, 0))),  # reversed scene structure
        ],
        "doc_id long, payload binary",
    )
    rows = video_row_luma(df, "payload", "doc_id")
    seq = rows.select(
        "doc_id",
        (F.col("frame_idx") * h + F.col("row_idx")).cast("int").alias("j"),
        "row_luma",
    )
    fp = gradient_sign_fingerprint(seq, "doc_id", "j", "row_luma", 15)
    vals = {r.doc_id: r.fingerprint for r in fp.collect()}
    assert vals[1] == vals[2] == (1 << 15) - 1
    assert vals[3] == 0
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(
            fp, "doc_id", sig_col="fingerprint", bits=15, bands=3
        ).collect()
    }
    assert pairs == {(1, 2): 0}


def test_fp_banding_pigeonhole_lossless_15_bits(spark):
    """For the 15-bit / 3-band / max_hamming-2 shape the banded join
    must find EXACTLY the all-pairs hamming<=2 set (pigeonhole: <=2
    differing bits cannot touch all 3 bands)."""
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    fps = [
        0b000000000000000,
        0b000000000000011,  # hamming 2 from fps[0]
        0b000000000000111,  # hamming 3 from fps[0], 1 from fps[1]
        0b111110000000000,
        0b111110000000011,  # hamming 2 from fps[3]
        0b010101010101010,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fps)], "doc_id long, fingerprint long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(
            df, "doc_id", sig_col="fingerprint", bits=15, bands=3
        ).collect()
    }
    want = {
        (a, b)
        for a in range(len(fps))
        for b in range(a + 1, len(fps))
        if bin(fps[a] ^ fps[b]).count("1") <= 2
    }
    assert got == want and (0, 1) in want and (1, 2) in want


# ---------------------------------------------------------------------------
# VERDICT r7 #6: the >cap expression-plan fallback — the path a big
# corpus would actually take — must produce results hash-equal to the
# Arrow kernel path.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# VERDICT r7 #2: persisted standing semantic index — save/load must be
# verdict-lossless vs the in-process incremental path.
# ---------------------------------------------------------------------------


def test_standing_index_equivalent_to_incremental(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        build_semantic_index,
        load_semantic_index,
        semantic_dedup_against_index,
        semantic_dedup_incremental,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    standing = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    inproc = {
        (r.vec_id, r.cluster, r.is_dup)
        for r in semantic_dedup_incremental(
            standing, batch, "vec_id", "embedding", k=None
        ).collect()
    }
    path = str(tmp_path / "sem_index")
    meta = build_semantic_index(standing, "vec_id", "embedding", path, k=None)
    served = {
        (r.vec_id, r.cluster, r.is_dup)
        for r in semantic_dedup_against_index(
            spark, batch, "vec_id", "embedding", path
        ).collect()
    }
    assert served == inproc
    # artifact reloads intact
    cents, reps, meta2 = load_semantic_index(spark, path)
    assert meta2["k"] == meta["k"] and len(cents) == meta["k"]
    assert meta2["dim"] == len(cents[0])
    assert set(reps.columns) == {"cluster", "qv", "rep_vid"}


def test_standing_index_flags_planted_duplicate(spark, tmp_path):
    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        build_semantic_index,
        semantic_dedup_against_index,
    )

    dim = 4
    standing = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 0.0]) for i in range(1, 41)],
        "vec_id long, embedding array<double>",
    )
    # batch: id 100 clones standing id 5's vector; id 101 is far away
    batch = spark.createDataFrame(
        [
            (100, [float(5 % 7), float(5 % 3), 1.0, 0.0]),
            (101, [900.0, -900.0, 900.0, -900.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "sem_index")
    build_semantic_index(standing, "vec_id", "embedding", path, k=4)
    got = {
        r.vec_id: r.is_dup
        for r in semantic_dedup_against_index(
            spark, batch, "vec_id", "embedding", path
        ).collect()
    }
    assert got[100] is True  # exact clone of a standing vector
    assert got[101] is False  # nothing within eps
    assert dim == 4  # fixture shape documented


def _sig(df):
    rows = df.collect()
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(
        tuple(
            (round(r[i], 6) if isinstance(r[i], float) else r[i])
            for i in order
        )
        for r in rows
    )
    return [cols[i] for i in order], body


def test_cosine_topk_byte_cap_fallback_hash_equal(spark, monkeypatch):
    """Force BROADCAST_SCORE_MAX_BYTES=0 through embedding_cosine_topk
    at sf0.01 and assert exact equality with the kernel path (the two
    regimes are contractually bit-identical; the committed manifest
    digest pins the kernel side)."""
    from udacity_capstone_data_engineering_spark.queries import queries

    q = queries()["embedding_cosine_topk"]
    sf_dir = "/root/testdata/sf0.01"
    kernel = _sig(q(spark, sf_dir))
    monkeypatch.setattr(similarity, "BROADCAST_SCORE_MAX_BYTES", 0)
    fallback_df = q(spark, sf_dir)
    plan = fallback_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
        "past the cap the anchor must run the pure-JVM expression plan"
    )
    fallback = _sig(fallback_df)
    assert kernel[0] == fallback[0]
    assert kernel[1] == fallback[1]


# ---------------------------------------------------------------------------
# Round 8: substring-level exact dedup (duplicate_token_spans)
# ---------------------------------------------------------------------------


def _spans(spark, rows, w=4):
    from udacity_capstone_data_engineering_spark.operators.dedup import (
        duplicate_token_spans,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_dup_grams)
        for r in duplicate_token_spans(df, "text", "doc_id", w=w).collect()
    }


def test_duplicate_spans_planted_pair(spark):
    # docs 1 and 2 share the 5-token passage "p q r s t" (positions
    # 2-6 in doc 1, 0-4 in doc 2); with w=4 that is 2 duplicated
    # windows per doc merging into ONE maximal span each.
    got = _spans(
        spark,
        [
            (1, "a b p q r s t u v w"),
            (2, "p q r s t x y z zz"),
            (3, "k l m n o kk ll mm nn"),
        ],
    )
    assert got == {
        (1, 2, 6, 5, 2),
        (2, 0, 4, 5, 2),
    }


def test_duplicate_spans_within_doc_repetition_not_flagged(spark):
    # "p q r s" appears TWICE in doc 1 and nowhere else: repetition,
    # not cross-doc duplication -> no spans at all.
    got = _spans(
        spark,
        [
            (1, "p q r s x y p q r s"),
            (2, "a b c d e f g h"),
        ],
    )
    assert got == set()


def test_duplicate_spans_two_islands_and_merge_rule(spark):
    # doc 1 shares "p q r s" with doc 2 AND "w x y z" with doc 3, with
    # a >w token gap between them -> two separate spans for doc 1.
    got = _spans(
        spark,
        [
            (1, "p q r s g1 g2 g3 g4 g5 w x y z"),
            (2, "p q r s aa bb cc dd"),
            (3, "ee ff gg hh w x y z"),
        ],
    )
    assert (1, 0, 3, 4, 1) in got
    assert (1, 9, 12, 4, 1) in got
    assert len([g for g in got if g[0] == 1]) == 2


def test_duplicate_spans_short_docs_excluded(spark):
    # docs shorter than w tokens produce no windows (and must not trip
    # Spark's descending-sequence default).
    got = _spans(spark, [(1, "a b"), (2, "a b"), (3, "c")])
    assert got == set()


# ---------------------------------------------------------------------------
# Round 8: pq_topk queries= workload hook (parity with LSH/IVF/IVF-PQ)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("cap", [None, 1000])
def test_pq_topk_query_workload_equals_full_run_subset(spark, sf_dir, cap):
    # The per-query ADC pipeline is independent of other queries and
    # the fit is seeded, so a workload run must reproduce exactly the
    # full self-run's rows for those queries — in BOTH the broadcast
    # regime (cap=None) and the sharded cogroup grid (cap=1000 forces
    # sharding).
    from udacity_capstone_data_engineering_spark.operators.pq import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sub = emb.filter(F.col("vec_id") % 5 == 0)
    kw = {} if cap is None else {"max_broadcast_bytes": cap}
    full = {
        (r.query_id, r.neighbor_id, round(r.cosine, 9), r.rnk)
        for r in pq_topk(emb, "vec_id", "embedding", dim=64, k=5, **kw).collect()
        if r.query_id % 5 == 0
    }
    got = {
        (r.query_id, r.neighbor_id, round(r.cosine, 9), r.rnk)
        for r in pq_topk(
            emb, "vec_id", "embedding", dim=64, k=5, queries=sub, **kw
        ).collect()
    }
    assert full == got and len(got) > 0


# ---------------------------------------------------------------------------
# Round 8: the single-row-group scan-skew mechanism, pinned
# ---------------------------------------------------------------------------


def test_fan_out_rebalances_single_row_group_file(spark, tmp_path):
    # A one-file parquet with ONE row group splits into ~size/4MB
    # openCost bins, but only the bin containing the row-group offset
    # carries rows: N-1 empty tasks + 1 task with everything — the
    # round-7 "one task of 13" wedge shape, which serialized any
    # CPU-heavy stage fed directly by such a scan (the pq encode,
    # fixed r8). This pins BOTH halves: the pathology exists on the
    # raw scan, and fan_out_small_scan repairs it to a balanced
    # defaultParallelism-wide distribution.
    from udacity_capstone_data_engineering_spark.sources.catalog import (
        fan_out_small_scan,
    )

    path = str(tmp_path / "one_rg")
    spark.range(200_000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    raw = back.rdd.glom().map(len).collect()
    if len(raw) > 1:
        # multiple splits of one row group -> exactly one non-empty
        assert sum(1 for n in raw if n) == 1, raw
    fo = fan_out_small_scan(back).rdd.glom().map(len).collect()
    assert len(fo) >= spark.sparkContext.defaultParallelism
    assert sum(fo) == 200_000
    assert max(fo) - min(fo) <= 1, "round-robin must balance exactly"
    # ADVICE r8: on a host whose core count <= the openCost split count
    # the old partition-count gate no-opt'ed (splits >= target) and the
    # one-task skew survived. Pin the environment instead of relying on
    # nproc > splits: FORCE a split count above the target (tiny
    # maxPartitionBytes — runtime-settable read conf) and a target
    # below it; the single-file rule must still rebalance.
    low = 2
    prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", 64 * 1024)
        split_back = spark.read.parquet(path)
        raw_forced = split_back.rdd.glom().map(len).collect()
        assert len(raw_forced) > low, "fixture must out-split the target"
        assert sum(1 for n in raw_forced if n) == 1, raw_forced
        fo_low = (
            fan_out_small_scan(split_back, min_partitions=low)
            .rdd.glom()
            .map(len)
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prior)
    assert len(fo_low) == low
    assert sum(fo_low) == 200_000
    assert max(fo_low) - min(fo_low) <= 1, (
        "single-file scans must rebalance even when splits >= target"
    )
