"""Video binary-column operators (multimodal surface, task brief).

Round 1 stubbed video entirely (no codecs in the sandbox). Like WAV for
audio, one public video container needs NO codec: YUV4MPEG2 (.y4m) is a
plain-text header plus raw YUV planes per frame — the interchange format
every ffmpeg pipeline can emit losslessly. Parsing it is pure numpy, so
video gets a fully executable path: decode, per-clip stats (including a
temporal motion metric no still-image operator can produce), frame
sampling INTO the image pipeline (sampled frames re-encode as PNG via
the repo codec and flow straight into ``images.decode_stats`` /
``image_features``), and fixed-dim clip features. MP4 joins the same
surface via :func:`decode_video`'s magic sniff: ISO-BMFF demux is real
and Motion-JPEG tracks decode for real through the repo JPEG codec
(:mod:`.mp4`); compressed codecs (h264/hevc/...) demux + probe but
refuse pixel decode -> quarantine, honestly.

All operators are per-row kernels of :func:`.rows.map_bytes`, like
``images.decode_stats``; corrupt clips quarantine via ok=false rows
(or are silently skipped where the output is per-frame), never abort.

Schema mirror of the images input_hint: (video_id string, bytes binary,
w int, h int, n_frames int, fps double, fmt string).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..png_codec import encode_png
from .rows import map_bytes

_MAGIC = b"YUV4MPEG2"


def encode_y4m(frames: np.ndarray, fps: int = 25) -> bytes:
    """(n, h, w) uint8 luma frames -> Y4M bytes (C420, flat chroma).

    Chroma planes are written as the 2x2 box-mean of each luma frame so
    the output is a valid, ffmpeg-playable C420 stream, but decode
    (below) only reads Y back — the engine treats video as luma."""
    frames = np.ascontiguousarray(frames, dtype=np.uint8)
    n, h, w = frames.shape
    if h % 2 or w % 2:
        raise ValueError("C420 needs even frame dimensions")
    head = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode()
    parts = [head]
    for f in frames:
        parts.append(b"FRAME\n")
        parts.append(f.tobytes())
        c = f.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        cb = c.astype(np.uint8).tobytes()
        parts.append(cb)  # U
        parts.append(cb)  # V (grayscale content: U == V)
    return b"".join(parts)


def decode_y4m(data: bytes) -> tuple[float, np.ndarray]:
    """Y4M bytes -> (fps, (n, h, w) uint8 luma frames). Pure numpy."""
    if not data.startswith(_MAGIC):
        raise ValueError("not a YUV4MPEG2 stream (bad magic)")
    nl = data.index(b"\n")
    w = h = None
    fps = 25.0
    chroma = "420"
    for tok in data[len(_MAGIC):nl].split():
        t = tok.decode("ascii", "replace")
        if t[0] == "W":
            w = int(t[1:])
        elif t[0] == "H":
            h = int(t[1:])
        elif t[0] == "F":
            num, den = t[1:].split(":")
            fps = int(num) / int(den)
        elif t[0] == "C":
            chroma = t[1:]
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if fps <= 0:
        # a declared F0:1 would "decode" fine and then ZeroDivisionError
        # in every fps consumer OUTSIDE the quarantine try-blocks
        # (frame_sample's fno/fps, video_features' duration) — reject at
        # the decode boundary so such clips quarantine like any corrupt
        # input instead of aborting the task
        raise ValueError(f"non-positive frame rate {fps}")
    if chroma.startswith("420"):
        frame_bytes = h * w + 2 * (h // 2) * (w // 2)
    elif chroma == "mono":
        frame_bytes = h * w
    elif chroma.startswith("444"):
        frame_bytes = 3 * h * w
    else:
        raise ValueError(f"unsupported chroma mode C{chroma}")
    frames = []
    pos = nl + 1
    while pos < len(data):
        fnl = data.index(b"\n", pos)
        if data[pos:pos + 5] != b"FRAME":
            raise ValueError("corrupt stream: missing FRAME marker")
        pos = fnl + 1
        if pos + frame_bytes > len(data):
            raise ValueError("corrupt stream: truncated frame payload")
        y = np.frombuffer(data[pos:pos + h * w], dtype=np.uint8)
        frames.append(y.reshape(h, w))
        pos += frame_bytes
    if not frames:
        raise ValueError("empty stream: no frames")
    return fps, np.stack(frames)


def decode_video(data: bytes) -> tuple[float, np.ndarray]:
    """Magic-sniffing video decode: Y4M (here), MP4 (:mod:`.mp4`,
    Motion-JPEG tracks), or animated GIF (:mod:`.gif`, composed
    frames reduced to BT.601 luma) -> (fps, (n, h, w) uint8 luma
    frames). The video analog of ``images.decode_image``; every video
    operator below routes through this. Unknown/undecodable input
    raises -> the caller's quarantine path."""
    if data.startswith(_MAGIC):
        return decode_y4m(data)
    if len(data) >= 12 and data[4:8] == b"ftyp":
        from .mp4 import decode_mp4
        return decode_mp4(data)
    if data[:4] == b"GIF8":
        from .gif import gif_frames
        return gif_frames(data)
    raise ValueError("unknown video container "
                     "(not Y4M, ISO-BMFF, or GIF)")


STATS_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("fps", T.DoubleType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("mean_luma", T.DoubleType()),
    T.StructField("motion", T.DoubleType()),
])


def video_stats(videos: DataFrame) -> DataFrame:
    """Decode + per-clip stats; corrupt clips -> ok=false rows.

    ``motion`` is the mean absolute luma difference between consecutive
    frames (0 for a static clip) — the temporal signal a still-image
    pipeline cannot produce, used downstream to filter slideshows /
    static filler out of a training corpus."""

    def kernel(vid, data):
        fps, fr = decode_video(data)
        n, h, w = fr.shape
        motion = float(np.mean(np.abs(
            np.diff(fr.astype(np.int16), axis=0)))) if n > 1 else 0.0
        return [(vid, True, w, h, n, fps, n / fps,
                 round(float(fr.mean()), 6), round(motion, 6))]

    return map_bytes(videos, "video_id", STATS_SCHEMA, kernel)


FRAMES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("video_id", T.StringType()),
    T.StructField("frame_no", T.IntegerType()),
    T.StructField("t_s", T.DoubleType()),
    T.StructField("bytes", T.BinaryType()),
])


def frame_sample(videos: DataFrame, *, every_s: float = 1.0,
                 max_frames: int = 8) -> DataFrame:
    """Sample frames at ``every_s`` seconds (cap ``max_frames``), PNG-
    encode each, and emit image-pipeline-shaped rows.

    The output schema leads with ``image_id`` ("<video_id>#<frame_no>")
    so the result feeds :func:`..images.decode_stats` /
    ``image_features`` unchanged — video joins the corpus as derived
    stills plus provenance. One clip fans out to <= max_frames rows
    (bounded output: at 100 TB the fan-out factor is a config, not a
    data-dependent surprise). Corrupt clips are skipped (they surface
    in :func:`video_stats` quarantine instead)."""

    def kernel(vid, data):
        fps, fr = decode_video(data)
        step = max(1, int(round(every_s * fps)))
        return [(f"{vid}#{fno}", vid, fno, fno / fps, encode_png(fr[fno]))
                for fno in range(0, fr.shape[0], step)[:max_frames]]

    return map_bytes(videos, "video_id", FRAMES_SCHEMA, kernel)


FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def video_features(videos: DataFrame) -> DataFrame:
    """Fixed 16-dim clip features: 8-bin luma histogram over all frames
    + 4 temporal moments of the per-frame mean-luma series + motion,
    std, log-duration, fps/100. The video analog of
    ``images.image_features`` — the contract is the dataflow; a learned
    video encoder is a one-function swap."""

    def kernel(vid, data):
        fps, fr = decode_video(data)
        hist, _ = np.histogram(fr, bins=8, range=(0, 256))
        feats = list(hist / fr.size)
        series = fr.mean(axis=(1, 2))
        feats.extend([float(series.mean()) / 255.0,
                      float(series.std()) / 255.0,
                      float(series.min()) / 255.0,
                      float(series.max()) / 255.0])
        motion = float(np.mean(np.abs(
            np.diff(fr.astype(np.int16), axis=0)))) \
            if fr.shape[0] > 1 else 0.0
        feats.extend([motion / 255.0,
                      float(fr.std()) / 255.0,
                      float(np.log1p(fr.shape[0] / fps)),
                      fps / 100.0])
        return [(vid, np.asarray(feats, dtype=np.float32))]

    return map_bytes(videos, "video_id", FEATURES_SCHEMA, kernel)


def synth_video_pdf(n: int = 20, w: int = 32, h: int = 24,
                    fps: int = 10, seed: int = 42) -> pd.DataFrame:
    """Deterministic video fixture: a bright square orbiting a gradient
    background (known nonzero motion), every 9th clip static (motion 0),
    every 13th corrupt (smashed magic) for quarantine-path coverage."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx * 255) // max(w - 1, 1)).astype(np.uint8)
    rows = []
    for i in range(n):
        nf = 4 + (i % 5) * 2
        frames = np.repeat(base[None], nf, axis=0).copy()
        if i % 9 != 4:  # static clip every 9th
            for f in range(nf):
                cx = (3 + 2 * f + i) % (w - 8)
                cy = (2 + f) % (h - 8)
                frames[f, cy:cy + 6, cx:cx + 6] = 250
        frames = np.clip(
            frames.astype(np.int16)
            + rng.integers(-3, 4, frames.shape), 0, 255).astype(np.uint8)
        data = encode_y4m(frames, fps)
        if i % 13 == 7:
            data = b"XXXX" + data[4:]  # corrupt: smashed magic
        rows.append({"video_id": f"vid_{i:05d}", "bytes": data,
                     "w": w, "h": h, "n_frames": nf, "fps": float(fps),
                     "fmt": "y4m"})
    return pd.DataFrame(rows)
