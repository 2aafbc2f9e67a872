"""Round-7 additions: incremental SemDeDup, the image dHash tier, and
the ADVICE-r6 decoder-drift regression (BITMAPCOREHEADER quarantine in
the resize path)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from udacity_capstone_data_engineering_spark.operators.multimodal import (
    decode_image,
    encode_ppm,
    image_dhash,
    resize_image_nearest,
)


def _payload_df(spark, payloads):
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _dhash_py(img) -> int:
    luma = img.astype(np.int64).sum(axis=2) // 3
    bits = (luma[:, :-1] < luma[:, 1:]).ravel()
    return int((bits.astype(np.int64) << np.arange(bits.size)).sum())


def _ramp_image() -> np.ndarray:
    """Grayscale 8x4 with a strictly increasing per-row luma ramp
    (gaps of 10): every dHash bit is 1, and swapping one adjacent pair
    flips EXACTLY that pair's bit (neighbour comparisons keep their
    sign because the gap dwarfs the swap)."""
    luma = np.array(
        [[10 * (c + 1) + r for c in range(8)] for r in range(4)],
        dtype=np.int64,
    )
    return np.repeat(luma[:, :, None], 3, axis=2).astype("uint8")


def test_image_dhash_brightness_invariant_and_planted_neardup(spark):
    base = _ramp_image()
    # Uniform brightness shift: every gradient sign — every dHash
    # bit — is unchanged.
    brighter = np.clip(base.astype(np.int64) + 40, 0, 255).astype("uint8")
    # Near-dup: flip exactly two gradient signs by swapping two
    # adjacent-pixel pairs in distinct rows.
    tweaked = base.copy()
    for r, c in ((0, 0), (2, 3)):
        tweaked[r, [c, c + 1]] = tweaked[r, [c + 1, c]]
    # Far image: reversed ramp — every gradient sign flips.
    other = base[:, ::-1].copy()

    df = _payload_df(
        spark, [encode_ppm(x) for x in (base, brighter, tweaked, other)]
    )
    got = {
        r["doc_id"]: r["dhash"]
        for r in image_dhash(df, "payload", "doc_id").collect()
    }
    assert got[0] == _dhash_py(base) == (1 << 28) - 1
    assert got[1] == got[0], "uniform brightness shift must not move dHash"
    assert bin(got[0] ^ got[2]).count("1") == 2
    assert bin(got[0] ^ got[3]).count("1") == 28


def test_image_near_dup_banding_lossless_below_band_count(spark):
    """Pigeonhole: with 4 bands, any pair at Hamming distance <= 3 has
    at least one untouched band, so banded candidate generation is
    LOSSLESS for those pairs — the planted pair must survive the full
    query pipeline, not just the hash compare."""
    from udacity_capstone_data_engineering_spark.queries.multimodal import (
        _DH_BAND_BITS,
        _DH_BANDS,
    )

    base = _ramp_image()
    tweaked = base.copy()
    # Flip exactly 3 gradient bits (positions 1, 11, 27 — bands 0, 1,
    # and 3), leaving band 2 clean.
    for r, c in ((0, 1), (1, 4), (3, 6)):
        tweaked[r, [c, c + 1]] = tweaked[r, [c + 1, c]]

    df = _payload_df(spark, [encode_ppm(base), encode_ppm(tweaked)])
    dh = image_dhash(df, "payload", "doc_id")
    mask = (1 << _DH_BAND_BITS) - 1
    band_arr = F.array(
        *[
            F.expr(f"shiftright(dhash, {_DH_BAND_BITS * j}) & {mask}")
            for j in range(_DH_BANDS)
        ]
    )
    bands = dh.select(
        "doc_id", "dhash", F.posexplode(band_arr).alias("band_idx", "band_val")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.dhash ^ b.dhash)").alias("hamming"),
        )
        .distinct()
        .collect()
    )
    assert len(cand) == 1
    assert cand[0]["doc_a"] == 0 and cand[0]["doc_b"] == 1
    assert 0 < cand[0]["hamming"] <= 3


def _core_header_bmp() -> bytes:
    """A BITMAPCOREHEADER (dib_size=12) BMP: 2x2, 24bpp. The V3 field
    offsets (width at 18, bpp at 28, compression at 30) read garbage
    from this layout — the decoder must refuse it, not emit pixels."""
    w = h = 2
    stride = (w * 3 + 3) & ~3
    # Pad past the 54-byte V3-header probe so the decoder reaches the
    # dib_size check (the point under test) rather than 'truncated'.
    body = bytes(range(stride * h)) + b"\x00" * 32
    core = struct.pack("<IHHHH", 12, w, h, 1, 24)
    header = b"BM" + struct.pack("<IHHI", 14 + 12 + len(body), 0, 0, 14 + 12)
    return header + core + body


def test_resize_quarantines_core_header_bmp(spark):
    """ADVICE r6 regression: the resize path's hand-copied decoder had
    dropped the dib_size>=40 check, so a BITMAPCOREHEADER BMP decoded
    garbage rows. With the shared-source decoder it must contribute NO
    rows (ValueError -> skip), same as the stats path's quarantine."""
    payload = _core_header_bmp()
    with pytest.raises(ValueError, match="BITMAPINFOHEADER"):
        decode_image(payload)
    df = _payload_df(spark, [payload])
    assert resize_image_nearest(df, "payload", "doc_id").count() == 0
    assert image_dhash(df, "payload", "doc_id").count() == 0


def test_semantic_dedup_incremental_planted(spark):
    """A batch vector identical to a standing vector must flag as dup;
    a far-away batch vector must not."""
    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        semantic_dedup_incremental,
    )

    rng = np.random.default_rng(3)
    standing_rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, 8)]) for i in range(40)
    ]
    dup_of = standing_rows[5][1]
    batch_rows = [
        (1000, list(dup_of)),  # exact twin of standing id 5
        (1001, [float(x + 50.0) for x in dup_of]),  # far away
    ]
    schema = "vec_id long, embedding array<double>"
    standing = spark.createDataFrame(standing_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    got = {
        r["vec_id"]: r["is_dup"]
        for r in semantic_dedup_incremental(
            standing, batch, "vec_id", "embedding", k=4
        ).collect()
    }
    assert got == {1000: True, 1001: False}


def test_semantic_dedup_incremental_kernel_regime_bitequal(spark, tmp_path):
    """The in-process incremental path (fit + screen in one call) is
    bit-equal to the persisted one (``build_semantic_index`` then
    ``semantic_dedup_against_index``): both run the same standing fit
    and the same batch screen, and the artifact round-trip is exact."""
    from udacity_capstone_data_engineering_spark.operators.semdedup import (
        build_semantic_index,
        semantic_dedup_against_index,
        semantic_dedup_incremental,
    )

    rng = np.random.default_rng(13)
    standing_rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, 8)]) for i in range(60)
    ]
    batch_rows = [
        (int(100 + i), [float(x) for x in rng.normal(0, 1, 8)])
        for i in range(12)
    ] + [(200, list(standing_rows[7][1]))]  # a twin: one dup at least
    schema = "vec_id long, embedding array<double>"
    standing = spark.createDataFrame(standing_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    inproc = sorted(
        tuple(r)
        for r in semantic_dedup_incremental(
            standing, batch, "vec_id", "embedding", k=6
        ).collect()
    )
    path = str(tmp_path / "sem_index")
    build_semantic_index(standing, "vec_id", "embedding", path, k=6)
    served = sorted(
        tuple(r)
        for r in semantic_dedup_against_index(
            spark, batch, "vec_id", "embedding", path
        ).collect()
    )
    assert inproc == served
    assert len(inproc) == 13 and (200, inproc[-1][1], True) == inproc[-1]


def test_runtime_bloom_filter_guards_beyond_broadcast_decontam(spark, tmp_path):
    """The 100 TB decontam regime (r7): at test scale the bench-gram
    side of `decontam_ngram_overlap` broadcasts, so the corpus stream
    is filtered map-side for free. Once the benchmark gram set outgrows
    the broadcast threshold the join becomes a shuffle join — and the
    engine's answer there is Catalyst's RUNTIME BLOOM FILTER injection
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`, on by default),
    which builds a bloom filter from the creation side and injects a
    `might_contain` prefilter into the corpus scan, exactly the
    hand-rolled bloom-prefilter pattern but optimizer-owned. This test
    pins that the knob fires on the decontam join shape (big gram
    stream ⋈ selectively-filtered small side) and that the prefiltered
    plan returns identical results. The size thresholds are lowered to
    reproduce the >10 GB-scan regime at fixture scale."""
    big_p = str(tmp_path / "grams_big")
    small_p = str(tmp_path / "grams_small")
    spark.range(0, 200_000).selectExpr(
        "id AS doc_id", "xxhash64(cast(id % 5000 AS string)) AS h"
    ).write.parquet(big_p)
    spark.range(0, 50_000).selectExpr(
        "xxhash64(cast(id AS string)) AS h", "id % 100 AS bench_part"
    ).write.parquet(small_p)

    def run_join():
        corpus = spark.read.parquet(big_p)
        bench = (
            spark.read.parquet(small_p)
            .filter("bench_part = 3")
            .select("h")
        )
        return corpus.join(bench, "h")

    baseline = run_join().count()
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        j = run_join()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, (
            "runtime bloom filter was not injected on the shuffle-join "
            "decontam shape"
        )
        assert j.count() == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pairwise_cosine_fast_path_bit_equal(spark):
    """r7 perf rewrite of the exact-cosine anchors: the unrolled
    codegen dot + once-per-row squared norms must be BIT-identical to
    the reference HOF formulation (same left-to-right double
    association), including the zero-norm -> NULL guard — these
    queries' sha256 digests are pinned in the committed manifests."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.functions.vectors import (
        cosine_similarity,
        cosine_similarity_presq,
        dot,
        dot_unrolled,
    )

    rng = np.random.default_rng(23)
    rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, 7)]) for i in range(80)
    ]
    rows.append((80, [0.0] * 7))  # zero-norm -> NULL cosine
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    q = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        dot("embedding", "embedding").alias("qsq"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        dot("embedding", "embedding").alias("csq"),
    )
    joined = q.crossJoin(c).filter(F.col("qid") != F.col("cid"))
    got = joined.select(
        "qid",
        "cid",
        cosine_similarity_presq(
            dot_unrolled("qv", "cv", 7), F.col("qsq"), F.col("csq")
        ).alias("cos"),
    ).collect()
    ref = joined.select(
        "qid", "cid", cosine_similarity("qv", "cv").alias("cos")
    ).collect()
    ref_map = {(r["qid"], r["cid"]): r["cos"] for r in ref}
    assert len(got) == len(ref) == 81 * 80
    n_null = 0
    for r in got:
        expect = ref_map[(r["qid"], r["cid"])]
        if expect is None:
            assert r["cos"] is None
            n_null += 1
        else:
            # bit equality, not approx
            assert r["cos"] == expect, (r["qid"], r["cid"])
    assert n_null == 2 * 80  # zero vector as query and as neighbor


def test_exact_cosine_kernel_bit_equal_and_null_contract(spark):
    """The exact-cosine block scan (left-to-right accumulation) must be
    bit-identical to the HOF expression formulation, including
    zero-norm -> NULL, and its threshold cut must keep exactly the
    id_a < id_b pairs with a non-NULL cosine at an always-passing
    threshold."""
    import numpy as np

    from udacity_capstone_data_engineering_spark.functions.vectors import (
        cosine_similarity,
    )
    from udacity_capstone_data_engineering_spark.operators.similarity import (
        _cosine_scan,
    )

    rng = np.random.default_rng(31)
    rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, 9)]) for i in range(60)
    ]
    rows.append((60, [0.0] * 9))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine_raw"]
        for r in _cosine_scan(emb, "vec_id", "embedding").collect()
    }
    q = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    ref = (
        q.crossJoin(c)
        .filter("qid != cid")
        .select("qid", "cid", cosine_similarity("qv", "cv").alias("cos"))
        .collect()
    )
    assert len(got) == len(ref) == 61 * 60
    for r in ref:
        assert got[(r["qid"], r["cid"])] == r["cos"], (r["qid"], r["cid"])

    ordered = _cosine_scan(
        emb, "vec_id", "embedding", threshold=float("-inf")
    ).collect()
    assert len(ordered) == 60 * 59 // 2  # the zero vector's pairs are NULL
    assert all(r["query_id"] < r["neighbor_id"] for r in ordered)
    for r in ordered:
        assert got[(r["query_id"], r["neighbor_id"])] == r["cosine_raw"]
