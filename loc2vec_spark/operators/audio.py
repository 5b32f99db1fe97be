"""Audio binary-column operators (multimodal surface, task brief).

Round 1 stubbed ALL audio/video decode behind NotImplementedError
(``images.decode_av``) because the sandbox has no codec libraries. WAV,
however, needs none — the container format parses with stdlib ``wave``
+ struct and the samples are raw PCM — so audio gets a fully executable
path: decode, per-clip stats, and fixed-dim spectral features, all
per-row kernels of :func:`.rows.map_bytes` like ``images.decode_stats``
(corrupt clips quarantine via ok=false, never abort). Compressed-audio
SAMPLE decode (MP3, AAC) remains honestly stubbed; plugging a real
sample decoder in is a one-function swap behind this same operator
surface.

Schema mirror of the images input_hint: (audio_id string, bytes binary,
rate int, n_samples int, fmt string) — treat as an Iceberg audio table.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from .rows import map_bytes


def encode_wav(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """mono int16 PCM -> WAV bytes (stdlib; deterministic fixtures)."""
    samples = np.ascontiguousarray(samples, dtype=np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _g711_ulaw(u8: np.ndarray) -> np.ndarray:
    """ITU-T G.711 mu-law bytes -> float64 in [-1, 1] (vectorized)."""
    u = (~u8) & 0xFF
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 0x07
    mant = (u & 0x0F).astype(np.int32)
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    val = np.where(sign, -mag, mag).astype(np.float64)
    return val / 32768.0


def _g711_alaw(u8: np.ndarray) -> np.ndarray:
    """ITU-T G.711 A-law bytes -> float64 in [-1, 1] (vectorized)."""
    a = (u8 ^ 0x55) & 0xFF
    sign = (a & 0x80) != 0
    exp = (a >> 4) & 0x07
    mant = (a & 0x0F).astype(np.int32)
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    # A-law sign convention is INVERTED relative to mu-law: after the
    # 0x55 XOR, a SET sign bit means POSITIVE (ITU G.711 Table 2 /
    # the reference alaw2linear) — review r5 caught the first cut
    # negating the whole waveform
    val = np.where(sign, mag, -mag).astype(np.float64)
    return val / 32768.0


def _parse_riff(data: bytes):
    """RIFF/WAVE walk (shared :mod:`.riff` helper) for the formats
    stdlib ``wave`` refuses: returns (fmt_tag, channels, rate, bits,
    payload). A corrupt chunk length truncates to the real bytes —
    the format checks downstream reject the remainder."""
    from .riff import walk_riff
    fmt, payload = None, None
    for tag, body in walk_riff(data, b"WAVE"):
        if tag == b"fmt " and len(body) >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            payload = body
    if fmt is None or payload is None:
        raise ValueError("missing fmt/data chunk")
    fmt_tag, ch, rate, _byte_rate, _align, bits = fmt
    return fmt_tag, ch, rate, bits, payload


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes -> (rate, mono float64 samples in [-1, 1]).

    PCM 8/16/24/32-bit rides stdlib ``wave``; formats ``wave``
    refuses fall back to a bounded RIFF walk: IEEE float32 (fmt 3)
    and the two G.711 telephony codings (6 A-law, 7 mu-law) decode
    for real — telephony/call-center corpora are mostly G.711 —
    anything else raises the shared quarantine ValueError."""
    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            rate = w.getframerate()
            n = w.getnframes()
            width = w.getsampwidth()
            ch = w.getnchannels()
            raw = w.readframes(n)
    except (wave.Error, RuntimeError, EOFError):
        # wave.Error: formats stdlib wave refuses (G.711/float) AND
        # genuinely corrupt streams; bare RuntimeError/EOFError leak
        # from chunk.skip() on unseekable-length corrupt chunks (found
        # by the mutation fuzzer) — ALL routes land on the bounded
        # RIFF walk, which decodes the former and raises the
        # contract's ValueError for the latter
        fmt_tag, ch, rate, bits, raw = _parse_riff(data)
        if rate <= 0:
            raise ValueError(f"non-positive sample rate {rate}")
        if fmt_tag == 3 and bits == 32:
            x = np.frombuffer(
                raw[:len(raw) // 4 * 4], dtype="<f4").astype(np.float64)
            if not np.isfinite(x).all():
                # NaN/Inf payload would flow rms=NaN under ok=true —
                # the silent-falsification class the empty-clip guard
                # exists for; quarantine instead
                raise ValueError("non-finite float32 samples")
            x = np.clip(x, -1.0, 1.0)  # the documented range contract
        elif fmt_tag == 6 and bits == 8:
            x = _g711_alaw(np.frombuffer(raw, dtype=np.uint8))
        elif fmt_tag == 7 and bits == 8:
            x = _g711_ulaw(np.frombuffer(raw, dtype=np.uint8))
        else:
            raise ValueError(
                f"unsupported WAV format tag {fmt_tag} ({bits}-bit)")
        if ch > 1:
            x = x[: len(x) // ch * ch].reshape(-1, ch).mean(axis=1)
        return rate, x
    if rate <= 0:
        # stdlib wave accepts a 0 fmt-chunk rate; it would crash rate
        # consumers outside the quarantine try-blocks (audio_features'
        # log-duration) — reject at the decode boundary instead
        raise ValueError(f"non-positive sample rate {rate}")
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif width == 3:
        b = np.frombuffer(raw[:len(raw) // 3 * 3], dtype=np.uint8)
        b = b.reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    elif width == 4:
        x = np.frombuffer(raw[:len(raw) // 4 * 4],
                          dtype="<i4").astype(np.float64) / float(1 << 31)
    else:
        raise ValueError(f"unsupported sample width {width}")
    if ch > 1:
        x = x[: len(x) // ch * ch].reshape(-1, ch).mean(axis=1)  # mono
    return rate, x


STATS_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("rate", T.IntegerType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),
])


def audio_stats(audio: DataFrame) -> DataFrame:
    """Decode + per-clip signal stats; corrupt clips -> ok=false rows."""

    def kernel(aid, data):
        rate, x = decode_wav(data)
        sb = np.signbit(x).astype(np.int8)
        zc = float(np.mean(np.abs(np.diff(sb)))) if len(x) > 1 else 0.0
        # len-guard on rms too: np.mean over an empty clip is NaN
        # (+ RuntimeWarning), and a NaN rms under ok=true silently
        # falsifies downstream comparisons
        return [(aid, True, rate, len(x), len(x) / rate,
                 round(float(np.sqrt(np.mean(x * x))), 6)
                 if len(x) else 0.0,
                 round(float(np.max(np.abs(x))), 6) if len(x) else 0.0,
                 round(zc, 6))]

    return map_bytes(audio, "audio_id", STATS_SCHEMA, kernel)


FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def audio_features(audio: DataFrame, *, n_bands: int = 12) -> DataFrame:
    """Fixed 16-dim clip features: log-energy in ``n_bands`` linear
    frequency bands (numpy rfft — no external DSP libs) + rms, zcr,
    peak, log-duration. The audio analog of ``images.image_features``:
    the contract is the dataflow; a learned encoder is a one-function
    swap."""
    assert n_bands + 4 == FEATURE_DIM

    def kernel(aid, data):
        rate, x = decode_wav(data)
        if len(x) < 2:
            return []
        spec = np.abs(np.fft.rfft(x)) ** 2
        bands = np.array_split(spec, n_bands)
        feats = [float(np.log1p(b.sum())) for b in bands]
        feats.append(float(np.sqrt(np.mean(x * x))))
        sb = np.signbit(x).astype(np.int8)
        feats.append(float(np.mean(np.abs(np.diff(sb)))))
        feats.append(float(np.max(np.abs(x))))
        feats.append(float(np.log1p(len(x) / rate)))
        return [(aid, np.asarray(feats, dtype=np.float32))]

    return map_bytes(audio, "audio_id", FEATURES_SCHEMA, kernel)


def synth_audio_pdf(n: int = 50, rate: int = 8_000,
                    seed: int = 42) -> pd.DataFrame:
    """Deterministic audio fixture table: sine+noise clips, a couple of
    corrupt rows (smashed RIFF magic) for quarantine-path coverage."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        dur = 0.05 + (i % 7) * 0.05
        t = np.arange(int(rate * dur)) / rate
        freq = 110.0 * (1 + (i % 12))
        x = 0.5 * np.sin(2 * np.pi * freq * t) \
            + 0.05 * rng.standard_normal(len(t))
        data = encode_wav((np.clip(x, -1, 1) * 32767).astype(np.int16),
                          rate)
        if i % 17 == 3:
            data = b"XXXX" + data[4:]  # corrupt: smashed RIFF magic
        rows.append({"audio_id": f"aud_{i:05d}", "bytes": data,
                     "rate": rate, "n_samples": len(t), "fmt": "wav"})
    return pd.DataFrame(rows)
