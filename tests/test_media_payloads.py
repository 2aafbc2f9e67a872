"""The eleven media operators share one payload map
(``multimodal.map_payloads``): batching, quarantine and frame assembly.
A NULL payload must never fail the job: the three stats operators report
it as status='corrupt' with NULL stats, the others emit no rows for it.
"""

from __future__ import annotations

import numpy as np
import pytest

from udacity_capstone_data_engineering_spark.operators import audio, multimodal, video

_RNG = np.random.default_rng(9)
_IMAGE = multimodal.encode_ppm(_RNG.integers(0, 256, size=(4, 8, 3)))
_WAV = audio.encode_wav(_RNG.integers(-3000, 3000, size=(40, 2)))
_VIDEO = video.encode_ppmv(
    [_RNG.integers(0, 256, size=(3, 5, 3)).astype("uint8") for _ in range(3)]
)
_BYTES = bytes(_RNG.integers(0, 256, size=300).astype("uint8"))

# (operator, valid payload, statusful)
OPERATORS = [
    (multimodal.decode_image_stats, _IMAGE, True),
    (multimodal.image_dhash, _IMAGE, False),
    (multimodal.resize_image_nearest, _IMAGE, False),
    (multimodal.extract_features, _BYTES, False),
    (multimodal.sample_frames, _BYTES, False),
    (multimodal.resize_nearest, _BYTES, False),
    (audio.decode_audio_stats, _WAV, True),
    (audio.audio_frame_energy, _WAV, False),
    (video.video_decode_stats, _VIDEO, True),
    (video.video_row_luma, _VIDEO, False),
    (video.video_frame_deltas, _VIDEO, False),
]


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize(
    "op, valid, statusful", OPERATORS, ids=[o[0].__name__ for o in OPERATORS]
)
def test_media_operator_null_empty_valid_payloads(spark, op, valid, statusful):
    """A NULL, an empty and a valid payload, at batch_size 1 and 256,
    over a one-partition and a three-partition scan: every run returns
    the same rows, the empty and valid payloads' rows are those of a
    scan without the NULL one, and the NULL payload is quarantined."""
    df = spark.createDataFrame(
        [(1, None), (2, bytearray()), (3, bytearray(valid))],
        "doc_id long, payload binary",
    )
    runs = [
        _rows(op(df.repartition(parts), "payload", "doc_id", batch_size=bs))
        for parts in (1, 3)
        for bs in (1, 256)
    ]
    assert all(r == runs[0] for r in runs)
    got = runs[0]
    width = len(op(df, "payload", "doc_id").columns)
    null_rows = [r for r in got if r[0] == 1]
    want_null = [(1, "corrupt") + (None,) * (width - 2)] if statusful else []
    assert null_rows == want_null
    without_null = _rows(op(df.filter("doc_id > 1"), "payload", "doc_id"))
    assert [r for r in got if r[0] != 1] == without_null
    valid_rows = [r for r in got if r[0] == 3]
    assert valid_rows
    if statusful:
        assert valid_rows[0][1] == "ok"
        assert [r[1] for r in got if r[0] == 2] == ["unsupported"]
