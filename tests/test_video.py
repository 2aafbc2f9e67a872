"""Video tier (round 7): concatenated-PPM container walker + the
frame-delta operators — the third multimodal leg (image r6, audio r7).
"""

from __future__ import annotations

import numpy as np
import pytest

from udacity_capstone_data_engineering_spark.operators.video import (
    decode_video,
    encode_ppmv,
    video_decode_stats,
    video_frame_deltas,
)


def _payload_df(spark, payloads):
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _frames(n=3, h=4, w=8, seed=5):
    rng = np.random.default_rng(seed)
    return [
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8).astype("uint8")
        for _ in range(n)
    ]


# ---------------------------------------------------------------------------
# Container walker unit battery (driver-side)
# ---------------------------------------------------------------------------


def test_decode_video_roundtrip_multiframe():
    frames = _frames(4)
    got = decode_video(encode_ppmv(frames))
    assert len(got) == 4
    for a, b in zip(got, frames):
        np.testing.assert_array_equal(a, b)


def test_decode_video_corrupt_branches():
    frames = _frames(3)
    payload = encode_ppmv(frames)
    # Last frame truncated mid-body.
    with pytest.raises(ValueError, match="truncated frame body"):
        decode_video(payload[:-10])
    # Garbage between frames.
    with pytest.raises(ValueError, match="garbage between frames"):
        decode_video(payload + b"XX")
    # Inconsistent dimensions.
    mixed = encode_ppmv(frames[:1]) + encode_ppmv(
        [np.zeros((2, 2, 3), dtype=np.uint8)]
    )
    with pytest.raises(ValueError, match="inconsistent frame dimensions"):
        decode_video(mixed)
    # Empty payload is not PPM.
    with pytest.raises(NotImplementedError, match="unrecognized video"):
        decode_video(b"MP4\x00" + payload)


def test_video_decode_stats_and_deltas_exact(spark):
    frames = _frames(3, seed=9)
    good = encode_ppmv(frames)
    out = {
        r["doc_id"]: r.asDict()
        for r in video_decode_stats(
            _payload_df(spark, [good, good[:-5], b"MKV" + good]),
            "payload",
            "doc_id",
        ).collect()
    }
    lumas = [f.astype(np.int64).sum(axis=2) // 3 for f in frames]
    assert out[0]["status"] == "ok"
    assert out[0]["n_frames"] == 3
    assert (out[0]["width"], out[0]["height"]) == (8, 4)
    assert out[0]["luma_sum"] == int(sum(l.sum() for l in lumas))
    assert out[1]["status"] == "corrupt"
    assert out[2]["status"] == "unsupported"

    deltas = {
        (r["doc_id"], r["frame_idx"]): r["delta"]
        for r in video_frame_deltas(
            _payload_df(spark, [good, good[:-5]]), "payload", "doc_id"
        ).collect()
    }
    # Corrupt doc contributes no rows; deltas match numpy exactly.
    assert {k[0] for k in deltas} == {0}
    for i in (1, 2):
        assert deltas[(0, i)] == int(np.abs(lumas[i] - lumas[i - 1]).sum())


def test_video_queries_match_duckdb_at_sf0001(catalog, sf_dir):
    import duckdb

    from udacity_capstone_data_engineering_spark.queries import oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    osql = oracle_sql()
    for name in ("video_decode_stats", "video_frame_deltas", "video_scene_cuts"):
        got = catalog[name]
        cols = sorted(got.columns)
        spark_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
        oracle_rows = sorted(
            tuple(r[i] for i in range(len(cols)))
            for r in con.execute(
                f"SELECT {', '.join(cols)} FROM ({osql[name]})"
            ).fetchall()
        )
        assert len(spark_rows) > 0, name
        assert spark_rows == oracle_rows, name
