"""Audio tier (round 7): pure-numpy WAV/PCM16 decoder + the Arrow
mapInPandas stats/frame operators — the audio leg of the multimodal
tier, mirroring the image codec's test battery (test_round6/test_round7).
"""

from __future__ import annotations

import numpy as np
import pytest

from udacity_capstone_data_engineering_spark.operators.audio import (
    audio_frame_energy,
    decode_audio_stats,
    decode_wav,
    encode_wav,
)


def _payload_df(spark, payloads):
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


# ---------------------------------------------------------------------------
# Decoder unit battery (driver-side, no Spark)
# ---------------------------------------------------------------------------


def test_decode_wav_roundtrip_mono_and_stereo():
    rng = np.random.default_rng(7)
    mono = rng.integers(-32768, 32768, size=100, dtype=np.int16)
    samples, rate = decode_wav(encode_wav(mono, 16000))
    assert rate == 16000
    assert samples.shape == (100, 1)
    np.testing.assert_array_equal(samples[:, 0], mono)

    stereo = rng.integers(-32768, 32768, size=(50, 2), dtype=np.int16)
    samples, rate = decode_wav(encode_wav(stereo, 44100))
    assert rate == 44100
    assert samples.shape == (50, 2)
    np.testing.assert_array_equal(samples, stereo)


def test_decode_wav_skips_unknown_chunks_and_pads_odd_sizes():
    """Spec behavior: unknown chunks (LIST, odd-sized junk) are walked
    past; odd chunk sizes carry a pad byte."""
    mono = np.arange(5, dtype=np.int16)
    base = encode_wav(mono, 8000)
    fmt_and_data = base[12:]
    # Insert an odd-sized junk chunk (3 bytes + 1 pad) after 'WAVE'.
    junk = b"JUNK" + (3).to_bytes(4, "little") + b"abc" + b"\x00"
    payload = bytearray(base[:12] + junk + fmt_and_data)
    # RIFF size field is not used by the walker, but keep it honest.
    payload[4:8] = (len(payload) - 8).to_bytes(4, "little")
    samples, rate = decode_wav(bytes(payload))
    np.testing.assert_array_equal(samples[:, 0], mono)


def test_decode_wav_corrupt_branches_raise_valueerror():
    good = encode_wav(np.arange(8, dtype=np.int16))
    # Truncated data chunk: declared size exceeds bytes present.
    with pytest.raises(ValueError, match="truncated data"):
        decode_wav(good[:-4])
    # Missing data chunk entirely.
    with pytest.raises(ValueError, match="missing fmt/data"):
        decode_wav(good[:36])
    # Data size not a whole sample frame (stereo, odd byte count).
    stereo = bytearray(encode_wav(np.zeros((4, 2), dtype=np.int16)))
    stereo[40:44] = (14).to_bytes(4, "little")  # 14 % (2*2) != 0
    with pytest.raises(ValueError, match="whole sample frame"):
        decode_wav(bytes(stereo[: 44 + 14]))


def test_decode_wav_unsupported_branches_raise_notimplemented():
    good = bytearray(encode_wav(np.zeros(4, dtype=np.int16)))
    # Format tag 3 = IEEE float.
    float_fmt = good.copy()
    float_fmt[20:22] = (3).to_bytes(2, "little")
    with pytest.raises(NotImplementedError, match="format 3"):
        decode_wav(bytes(float_fmt))
    # 8-bit PCM.
    eight = good.copy()
    eight[34:36] = (8).to_bytes(2, "little")
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_wav(bytes(eight))
    # Not RIFF at all.
    with pytest.raises(NotImplementedError, match="unrecognized audio"):
        decode_wav(b"ID3\x03" + bytes(40))


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def test_decode_audio_stats_quarantine_and_exact_sums(spark):
    rng = np.random.default_rng(11)
    mono = rng.integers(-32768, 32768, size=32, dtype=np.int16)
    stereo = rng.integers(-32768, 32768, size=(16, 2), dtype=np.int16)
    good_mono = encode_wav(mono, 8000)
    good_stereo = encode_wav(stereo, 22050)
    truncated = good_mono[:-6]
    float_fmt = bytearray(good_mono)
    float_fmt[20:22] = (3).to_bytes(2, "little")

    out = {
        r["doc_id"]: r.asDict()
        for r in decode_audio_stats(
            _payload_df(
                spark, [good_mono, good_stereo, truncated, bytes(float_fmt)]
            ),
            "payload",
            "doc_id",
        ).collect()
    }
    m = mono.astype(np.int64)
    assert out[0] == {
        "doc_id": 0, "status": "ok", "sample_rate": 8000, "n_channels": 1,
        "n_samples": 32, "sum_abs": int(np.abs(m).sum()),
        "sum_sq": int((m * m).sum()),
    }
    s = stereo.astype(np.int64)
    assert out[1]["n_channels"] == 2
    assert out[1]["n_samples"] == 32
    assert out[1]["sum_sq"] == int((s * s).sum())
    assert out[2]["status"] == "corrupt"
    assert out[2]["sum_sq"] is None
    assert out[3]["status"] == "unsupported"


def test_audio_frame_energy_partial_frame_and_quarantine_drop(spark):
    mono = np.array([3, -4, 5, 12, 0, -1, 7], dtype=np.int16)  # 7 samples
    good = encode_wav(mono)
    out = audio_frame_energy(
        _payload_df(spark, [good, good[:-3]]), "payload", "doc_id", frame=4
    ).collect()
    rows = {(r["doc_id"], r["frame_idx"]): r for r in out}
    # Corrupt payload (doc 1) contributes no rows.
    assert {k[0] for k in rows} == {0}
    assert rows[(0, 0)]["n_in_frame"] == 4
    assert rows[(0, 0)]["energy"] == 9 + 16 + 25 + 144
    # Trailing partial frame keeps its true width.
    assert rows[(0, 1)]["n_in_frame"] == 3
    assert rows[(0, 1)]["energy"] == 0 + 1 + 49


def test_audio_queries_match_duckdb_at_sf0001(catalog, sf_dir):
    """The full oracle pair for the three audio queries at sf0.001 —
    the same hash-gate shape the driver runs at sf0.01."""
    import duckdb

    from udacity_capstone_data_engineering_spark.queries import oracle_sql

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    osql = oracle_sql()
    for name in ("audio_decode_stats", "audio_frame_energy", "audio_silence_flags"):
        got = catalog[name]
        cols = sorted(got.columns)
        spark_rows = sorted(
            tuple(r[c] for c in cols) for r in got.collect()
        )
        oracle_rows = sorted(
            tuple(r[i] for i in range(len(cols)))
            for r in con.execute(
                f"SELECT {', '.join(cols)} FROM ({osql[name]})"
            ).fetchall()
        )
        assert len(spark_rows) > 0, name
        assert spark_rows == oracle_rows, name
