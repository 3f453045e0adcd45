"""Multimodal (image/audio/video) column plumbing.

Design: media are opaque ``BinaryType`` columns. Decode /
feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` stages so bytes never round-trip through Python
row-at-a-time.

Decoders are pluggable via :func:`register_decoder`. Two REAL
stdlib-only codecs ship built in and are registered at import — WAV
(RIFF PCM via ``wave``/``struct``, :func:`decode_wav`) and binary
PNM (P5 gray / P6 RGB, hand-parsed, :func:`decode_pnm`) — plus an
``auto`` decoder that sniffs the magic bytes, so ``strict=True``
decode is honest end-to-end for those formats. Codecs the container
lacks (JPEG/libav/...) stay behind ``register_decoder``; without a
match, the deterministic fake (:func:`_fake_decode`) produces
shape-correct output so the Spark-side plumbing — schema and
batching — remains real and tested, or ``strict=True`` raises
``NotImplementedError`` at the decode site.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# name → decoder(bytes) -> np.ndarray; installed by the host env.
_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {}


def register_decoder(name: str, fn: Callable[[bytes], np.ndarray]) -> None:
    _DECODERS[name] = fn


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decoder: 8×8 'pixels' derived from the
    payload bytes — stable across runs, so downstream feature tests can
    assert exact values. Replaced by register_decoder in a real env."""
    arr = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8)
    return arr.reshape(8, 8).astype(np.float64)


def _decoder(name: str | None, strict: bool):
    if name and name in _DECODERS:
        return _DECODERS[name]
    if strict:
        raise NotImplementedError(
            f"no media decoder named {name!r} registered (built-ins: "
            f"{sorted(_DECODERS)}); call register_decoder() for codecs "
            "this environment lacks, or use strict=False for the "
            "deterministic fake"
        )
    return _fake_decode


# --- real stdlib codecs ------------------------------------------------


def wav_bytes(samples: np.ndarray) -> bytes:
    """Encode int16 PCM mono samples at 8 kHz as a minimal RIFF/WAVE
    payload (44-byte header + frames) using only the stdlib ``wave``
    module.
    The synthesis half of the WAV round-trip used by tests/oracles."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> np.ndarray:
    """REAL WAV decode, stdlib only: RIFF PCM via ``wave``. Returns
    float64 samples, shape (n_frames,) mono or (n_frames, n_channels).
    Supports 8-bit unsigned and 16/32-bit signed PCM."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        nch, width, nframes = w.getnchannels(), w.getsampwidth(), w.getnframes()
        raw = w.readframes(nframes)
    dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(width)
    if dtype is None:
        raise ValueError(f"unsupported PCM sample width: {width}")
    arr = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if nch > 1:
        arr = arr.reshape(-1, nch)
    return arr


def ppm_bytes(pixels: np.ndarray) -> bytes:
    """Encode a (h, w, 3) RGB or (h, w) gray uint8 array as binary
    P6/P5 PNM. The synthesis half of the PNM round-trip."""
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim == 3:
        magic, h, w = b"P6", a.shape[0], a.shape[1]
    elif a.ndim == 2:
        magic, h, w = b"P5", a.shape[0], a.shape[1]
    else:
        raise ValueError("pixels must be (h, w) or (h, w, 3)")
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


def decode_pnm(payload: bytes) -> np.ndarray:
    """REAL binary PNM decode, hand-parsed: P6 RGB → (h, w, 3), P5
    gray → (h, w), float64. Handles whitespace/comment-tolerant headers
    and 8-bit maxval (the overwhelmingly common case)."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PNM (P5/P6) payload")
    rgb = payload[:2] == b"P6"
    # header: magic, width, height, maxval — tokens separated by
    # whitespace, '#' comments run to end-of-line
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval, then raster
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PNM not supported")
    n = w * h * (3 if rgb else 1)
    arr = np.frombuffer(payload[pos : pos + n], dtype=np.uint8).astype(np.float64)
    return arr.reshape(h, w, 3) if rgb else arr.reshape(h, w)


def decode_auto(payload: bytes) -> np.ndarray:
    """Magic-byte sniffing decoder: RIFF/WAVE → wav, P5/P6 → pnm."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:2] in (b"P5", b"P6"):
        return decode_pnm(payload)
    raise ValueError("unrecognized media payload (no registered codec)")


register_decoder("wav", decode_wav)
register_decoder("pnm", decode_pnm)
register_decoder("auto", decode_auto)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas``: per Arrow batch,
    decode each payload and emit (id, n_bytes, mean_intensity,
    std_intensity, feat array<double>). The kernel is the stub point;
    the batching/schema contract is the real, tested part.
    """
    dec = _decoder(decoder, strict)
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("mean_intensity", T.DoubleType()),
            T.StructField("std_intensity", T.DoubleType()),
            T.StructField("feat", T.ArrayType(T.DoubleType())),
        ]
    )
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nb, mean_i, std_i, feats = [], [], [], [], []
            for i in range(len(pdf)):
                payload = pdf[payload_col].iloc[i]
                pixels = dec(bytes(payload))
                ids.append(pdf[id_col].iloc[i])
                nb.append(len(payload))
                mean_i.append(float(pixels.mean()))
                std_i.append(float(pixels.std()))
                # tiny fixed-length feature: row means of the decoded grid
                feats.append([float(x) for x in pixels.mean(axis=-1).ravel()[:8]])
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_bytes": nb,
                    "mean_intensity": mean_i,
                    "std_intensity": std_i,
                    "feat": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(kernel, out_schema)


def frame_sample(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 4,
) -> DataFrame:
    """Video-style frame sampling stub: emits one row per sampled
    'frame' (here: 8-byte stripe of the fake decode) with frame_idx.
    Real decoder replaces the kernel body; the explode-shaped output
    contract (id, frame_idx, frame_feat) is what downstream code binds
    to."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_feat", T.ArrayType(T.DoubleType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, feats = [], [], []
            for i in range(len(pdf)):
                pixels = _fake_decode(bytes(pdf[payload_col].iloc[i]))
                for fi in range(0, pixels.shape[0], every_n):
                    ids.append(pdf[id_col].iloc[i])
                    idxs.append(fi)
                    feats.append([float(x) for x in pixels[fi]])
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame_feat": feats})

    return df.select(id_col, payload_col).mapInPandas(kernel, out_schema)
