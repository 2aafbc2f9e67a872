"""Audio column plumbing: REAL WAV/PCM16 decode over binary payloads.

Completes the multimodal tier (image codec landed in round 6 at
``operators/multimodal.py``; video frame-sampling was already real):
audio payloads are carried as ``binary`` columns and decoded by a pure
numpy RIFF/WAVE parser — container walk, fmt/data chunk extraction,
16-bit little-endian PCM — inside the media tier's one Arrow-batched stage
(``multimodal.map_payloads``), so payload bytes never round-trip
through row-at-a-time pickling.

The quarantine contract matches the image tier exactly: a RECOGNIZED
container with a malformed/truncated body raises ``ValueError`` and the
stats operator maps it to status='corrupt'; a format that needs a real
codec library (float PCM, ADPCM, MP3-in-RIFF, non-16-bit) raises
``NotImplementedError`` -> status='unsupported'; a NULL payload is
corrupt. One bad crawl object
must never kill a 100 TB decode job, and quarantined ids stay joinable.

All emitted statistics are exact BIGINTs (sums of |int16| and int16^2),
so every result is value-hash-gateable — no float path anywhere.

Scale notes: identical to the image tier — binary payloads dominate row
size, ``batch_size`` bounds how many payloads a worker materializes per
Arrow slice, and the decode stage is map-only (zero shuffle); per-frame
outputs explode rows BEFORE any aggregation so downstream groupBys are
plain keyed aggs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from udacity_capstone_data_engineering_spark.operators.multimodal import map_payloads


def decode_wav(payload):
    """Pure-numpy WAV (RIFF/WAVE, 16-bit integer PCM) decoder. Walks the
    chunk list (word-aligned, unknown chunks like LIST skipped per spec),
    reads channels/rate/bits from ``fmt `` and the interleaved samples
    from ``data``. Returns ``(samples, sample_rate)`` where samples is an
    ``(n_frames, channels)`` int16 array.

    Raises ``ValueError`` for a recognized container with a malformed or
    truncated body (the quarantine signal -> status='corrupt'), and
    ``NotImplementedError`` for encodings that need a real codec library
    (float PCM, ADPCM, non-16-bit, MP3/OGG/... -> status='unsupported');
    on a cluster with soundfile/ffmpeg those slot in here and the
    surrounding ``map_payloads`` plumbing is unchanged."""
    if payload[:4] != b"RIFF":
        raise NotImplementedError(
            "unrecognized audio container (MP3/OGG/FLAC/... need a codec "
            "library; RIFF/WAVE PCM16 decodes natively)"
        )
    # A recognized-but-truncated RIFF header is CORRUPT, not
    # unsupported (ADVICE r7): the short slice must not fall through
    # to the WAVE magic comparison below.
    if len(payload) < 12:
        raise ValueError("wav: truncated header")
    if payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "unrecognized RIFF form (only RIFF/WAVE decodes natively)"
        )
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        csz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("wav: truncated fmt chunk")
            fmt = body
        elif cid == b"data":
            if len(body) < csz:
                raise ValueError("wav: truncated data chunk")
            data = body
        # chunks are word-aligned: odd sizes carry one pad byte
        pos += 8 + csz + (csz & 1)
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1:
        raise NotImplementedError(
            "wav: only integer PCM (format 1) decodes natively; got "
            "format %d (float/ADPCM/MP3-in-RIFF need a codec library)"
            % audio_format
        )
    if bits != 16:
        raise NotImplementedError(
            "wav: only 16-bit PCM decodes natively (got %d-bit)" % bits
        )
    if channels < 1:
        raise ValueError("wav: bad channel count")
    if sample_rate <= 0:
        raise ValueError("wav: bad sample rate")
    if len(data) % (2 * channels) != 0:
        raise ValueError("wav: data size is not a whole sample frame")
    samples = np.frombuffer(data, dtype="<i2").reshape(-1, channels)
    return samples, sample_rate


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Inverse of ``decode_wav`` — fixture helper so tests can
    synthesize payloads without a codec library. ``samples`` is an
    ``(n, channels)`` or ``(n,)`` int16 array."""
    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    body = arr.tobytes()
    hdr = (
        b"RIFF"
        + (36 + len(body)).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * 2 * channels).to_bytes(4, "little")
        + (2 * channels).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
        + b"data"
        + len(body).to_bytes(4, "little")
    )
    return hdr + body


def decode_audio_stats(
    df: DataFrame, binary_col: str, id_col: str, batch_size: int = 256
) -> DataFrame:
    """Decode real WAV payloads and emit exact integer statistics:
    ``(id, status, sample_rate, n_channels, n_samples, sum_abs,
    sum_sq)``.

    n_samples counts frames x channels (every decoded int16). sum_abs
    and sum_sq are BIGINT-exact (|int16| <= 32768, squares <= 2^30, so
    even trillion-sample payloads stay inside int64), making the whole
    result value-hash-gateable. Quarantine semantics as in
    ``multimodal.decode_image_stats``."""

    def rows_of(payload: bytes):
        samples, rate = decode_wav(payload)
        s64 = samples.astype(np.int64)
        return [(
            "ok", rate, samples.shape[1], int(s64.size),
            int(np.abs(s64).sum()), int((s64 * s64).sum()),
        )]

    return map_payloads(
        df, binary_col, id_col,
        "status string, sample_rate int, n_channels int, "
        "n_samples long, sum_abs long, sum_sq long",
        rows_of, batch_size, statusful=True,
    )


def audio_frame_energy(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    frame: int = 16,
    batch_size: int = 256,
) -> DataFrame:
    """Per-frame energy over decoded PCM: the stream is cut into
    fixed-width frames of ``frame`` sample-frames and each emits
    ``(id, frame_idx, n_in_frame, energy)`` with
    energy = sum over the frame of sum over channels of sample^2 —
    exact BIGINT (the VAD/silence-gating primitive). A trailing
    partial frame is emitted with its true ``n_in_frame``. Payloads
    that fail to decode contribute NO rows (the quarantine set is
    recoverable from ``decode_audio_stats``).

    Scale shape: map-only decode + frame explosion; any downstream
    silence/loudness aggregation is a plain keyed agg on (id,
    frame_idx) — never a shuffle of raw sample bytes."""

    def rows_of(payload: bytes):
        samples, _ = decode_wav(payload)
        sq = (samples.astype(np.int64) ** 2).sum(axis=1)
        blocks = (sq[fi : fi + frame] for fi in range(0, len(sq), frame))
        return [(i, len(b), int(b.sum())) for i, b in enumerate(blocks)]

    return map_payloads(
        df, binary_col, id_col,
        "frame_idx int, n_in_frame int, energy long", rows_of, batch_size,
    )
