"""Multimodal binary columns: decode and feature-extract media payloads.

Image/audio/video payloads ride as opaque ``binary`` columns,
processed by Arrow-batched mapInPandas operators (task brief
"multimodal columns"). One dependency-free codec per modality, all
pure struct/numpy:

- PPM (P6) images -> :func:`image_features` (size, mean RGB, mean
  luma, 8-bin luma histogram);
- WAV (RIFF/PCM16) audio -> :func:`audio_features` (duration, RMS,
  peak, zero crossings), via a chunk walker that skips unknown chunks;
- Y4M (YUV4MPEG2, 4:2:0) video -> :func:`sample_frames_y4m` (every
  n-th frame's luma plane plus its mean luma).

Undecodable payloads never raise: the feature operators emit
``valid=false`` and the frame sampler emits no rows. Values are
hash-checked against analytic DuckDB oracles (image_features,
audio_features, video_frames in ``__spark_entry__.py``).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


# ------------------------------------------------------------ PPM codec

def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) array -> binary PPM (P6)."""
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + \
        np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


def decode_ppm(payload: bytes):
    """Binary PPM (P6) -> uint8 (h, w, 3) array, or None if not PPM.

    Handles the spec's whitespace-separated header tokens and
    ``#`` comments; pure numpy, no imaging library.
    """
    if not payload.startswith(b"P6"):
        return None
    toks, i, n = [], 2, len(payload)
    while len(toks) < 3 and i < n:
        while i < n and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            while i < n and payload[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < n and not payload[j:j + 1].isspace():
            j += 1
        toks.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    try:
        w, h, maxval = (int(t) for t in toks)
    except (ValueError, TypeError):
        return None
    if maxval != 255 or w <= 0 or h <= 0 or n - i < w * h * 3:
        return None
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                         offset=i).reshape(h, w, 3)


def image_features(media: DataFrame, payload_col: str = "payload",
                   id_col: str = "url") -> DataFrame:
    """Decode PPM + feature-extract: per-image mean RGB, mean luma and
    an 8-bin luma histogram (the embedding stand-in a curation
    pipeline filters/clusters on). Arrow batches in, one numpy pass
    per image, no Python-per-pixel work."""
    schema = (f"{id_col} string, width int, height int, "
              "mean_r double, mean_g double, mean_b double, "
              "mean_luma double, luma_hist array<bigint>, valid boolean")

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, p in zip(pdf[id_col].values, pdf[payload_col].values):
                arr = decode_ppm(bytes(p))
                if arr is None:
                    rows.append((rid, 0, 0, 0.0, 0.0, 0.0, 0.0,
                                 [0] * 8, False))
                    continue
                means = arr.reshape(-1, 3).mean(axis=0)
                luma = (0.299 * arr[..., 0] + 0.587 * arr[..., 1]
                        + 0.114 * arr[..., 2])
                hist = np.histogram(luma, bins=8, range=(0, 256))[0]
                rows.append((rid, arr.shape[1], arr.shape[0],
                             float(means[0]), float(means[1]),
                             float(means[2]), float(luma.mean()),
                             hist.astype(np.int64).tolist(), True))
            yield pd.DataFrame(rows, columns=[
                id_col, "width", "height", "mean_r", "mean_g", "mean_b",
                "mean_luma", "luma_hist", "valid"])

    return media.mapInPandas(_feat, schema=schema)


# ------------------------------------------------------------ WAV codec

def encode_wav(samples: np.ndarray, sample_rate: int,
               n_channels: int = 1) -> bytes:
    """int16 PCM samples ((n,) or (n, ch)) -> RIFF/WAVE bytes."""
    pcm = np.asarray(samples, dtype="<i2")
    if pcm.ndim == 1 and n_channels > 1:
        pcm = np.repeat(pcm[:, None], n_channels, axis=1)
    data = pcm.tobytes()
    byte_rate = sample_rate * n_channels * 2
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, n_channels,
                      sample_rate, byte_rate, n_channels * 2, 16)
    body = fmt + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def decode_wav(payload: bytes):
    """RIFF/WAVE PCM16 -> (samples (n, ch) int16 ndarray, sample_rate)
    or None. Walks the chunk list (fmt /data in any order, unknown
    chunks skipped) — pure struct/numpy, no audio library."""
    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    i, n = 12, len(payload)
    sr = ch = bits = None
    data = None
    while i + 8 <= n:
        cid, sz = struct.unpack_from("<4sI", payload, i)
        i += 8
        if cid == b"fmt " and sz >= 16:
            if i + 16 > n:  # truncated fmt chunk -> invalid, not a crash
                return None
            audio_fmt, ch, sr, _, _, bits = struct.unpack_from(
                "<HHIIHH", payload, i)
            if audio_fmt != 1 or bits != 16:
                return None
        elif cid == b"data":
            data = payload[i:i + sz]
        i += sz + (sz & 1)  # chunks are word-aligned
    if sr is None or ch is None or data is None or ch < 1 or sr <= 0:
        return None
    m = len(data) // (2 * ch)
    if m == 0:
        return None
    return (np.frombuffer(data, dtype="<i2", count=m * ch)
            .reshape(m, ch), sr)


def audio_features(media: DataFrame, payload_col: str = "payload",
                   id_col: str = "url") -> DataFrame:
    """Decode WAV + feature-extract audio: duration, RMS, peak, zero-
    crossing count (channel-averaged) — the filter signals an audio
    curation pipeline thresholds on (silence, clipping, noise)."""
    schema = (f"{id_col} string, sample_rate int, n_samples int, "
              "n_channels int, duration_s double, rms double, "
              "peak int, zero_crossings bigint, valid boolean")

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, p in zip(pdf[id_col].values, pdf[payload_col].values):
                dec = decode_wav(bytes(p))
                if dec is None:
                    rows.append((rid, 0, 0, 0, 0.0, 0.0, 0, 0, False))
                    continue
                pcm, sr = dec
                x = pcm.astype(np.float64)
                rms = float(np.sqrt((x ** 2).mean()))
                # sign product on the float copy: int16*int16 stays
                # int16 in numpy and overflows past |a| ~ 181
                zc = int(((x[1:] * x[:-1]) < 0).sum())
                rows.append((rid, sr, pcm.shape[0], pcm.shape[1],
                             pcm.shape[0] / sr, rms,
                             int(np.abs(pcm).max()), zc, True))
            yield pd.DataFrame(rows, columns=[
                id_col, "sample_rate", "n_samples", "n_channels",
                "duration_s", "rms", "peak", "zero_crossings", "valid"])

    return media.mapInPandas(_feat, schema=schema)


# ------------------------------------------------------------ Y4M codec

def encode_y4m(frames_y: np.ndarray, fps: int = 25) -> bytes:
    """uint8 (n_frames, h, w) luma planes -> YUV4MPEG2 (C420, the
    chroma planes are written neutral 128)."""
    n, h, w = frames_y.shape
    head = b"YUV4MPEG2 W%d H%d F%d:1 Ip A1:1 C420jpeg\n" % (w, h, fps)
    uv = np.full(((h // 2) * (w // 2) * 2,), 128, dtype=np.uint8).tobytes()
    out = [head]
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(np.ascontiguousarray(frames_y[i], dtype=np.uint8)
                   .tobytes())
        out.append(uv)
    return b"".join(out)


def decode_y4m(payload: bytes):
    """YUV4MPEG2 (C420) -> (luma (n, h, w) uint8 ndarray, fps) or
    None. Parses the tagged stream header and per-frame markers; pure
    numpy, no video library."""
    if not payload.startswith(b"YUV4MPEG2"):
        return None
    nl = payload.find(b"\n")
    if nl < 0:
        return None
    w = h = fps = None
    try:
        for tag in payload[10:nl].split(b" "):
            if tag.startswith(b"W"):
                w = int(tag[1:])
            elif tag.startswith(b"H"):
                h = int(tag[1:])
            elif tag.startswith(b"F"):
                fps = int(tag[1:].split(b":")[0])
            elif tag.startswith(b"C") and not tag.startswith(b"C420"):
                return None  # only 4:2:0 subsampling supported
    except ValueError:  # malformed numeric tag -> invalid, not a crash
        return None
    if w is None or h is None or w <= 0 or h <= 0:
        return None
    y_sz = w * h
    f_sz = y_sz + 2 * ((h // 2) * (w // 2))
    i, frames = nl + 1, []
    n = len(payload)
    while i < n:
        fe = payload.find(b"\n", i)
        if fe < 0 or not payload[i:fe].startswith(b"FRAME"):
            break
        i = fe + 1
        if i + f_sz > n:
            break
        frames.append(np.frombuffer(payload, dtype=np.uint8,
                                    count=y_sz, offset=i).reshape(h, w))
        i += f_sz
    if not frames:
        return None
    return np.stack(frames), (fps or 25)


def sample_frames_y4m(media: DataFrame, every_n: int,
                      id_col: str = "url",
                      payload_col: str = "payload") -> DataFrame:
    """REAL video frame sampling: decode Y4M, emit every n-th frame's
    luma plane as a PPM payload (gray RGB) plus its mean luma — the
    decode -> frame-sample -> per-frame-feature chain of a video
    curation pipeline, dependency-free. UDTF explode shape: one row
    per sampled frame, none for an undecodable payload."""
    schema = (f"{id_col} string, frame_idx int, width int, height int, "
              "mean_luma double, frame binary")

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, p in zip(pdf[id_col].values, pdf[payload_col].values):
                dec = decode_y4m(bytes(p))
                if dec is None:
                    continue
                ys, _ = dec
                for i in range(0, ys.shape[0], every_n):
                    y = ys[i]
                    rgb = np.repeat(y[:, :, None], 3, axis=2)
                    rows.append((rid, i, y.shape[1], y.shape[0],
                                 float(y.astype(np.float64).mean()),
                                 encode_ppm(rgb)))
            yield pd.DataFrame(rows, columns=[
                id_col, "frame_idx", "width", "height", "mean_luma",
                "frame"])

    return media.mapInPandas(_frames, schema=schema)
