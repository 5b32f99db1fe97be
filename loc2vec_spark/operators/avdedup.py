"""Audio / video near-duplicate detection (VERDICT r4 item 3).

Composes the already-real decode paths into corpus-dedup operators:

- **video**: sampled-frame perceptual-hash sequences
  (``video.frame_sample`` -> ``images.phash_images``) with banded-
  Hamming LSH per aligned frame — candidate pairs come from a pure
  (frame_no, band, value) EQUI-join (pigeonhole: hamming <= 3 forces a
  shared 16-bit band), the exact Hamming filter runs JVM-side
  (``bit_count``), and a pair is a near-dup when enough aligned frames
  match. Same scale shape as ``dedup_phash``: candidate volume is
  proportional to true-duplicate volume, never all-pairs.

- **audio**: spectral-peak constellation fingerprints (the classic
  landmark scheme): per 512-sample frame the dominant rfft bin, peaks
  paired with the next ``fanout`` peaks into (bin1, bin2, dt) landmark
  hashes; matching is a pure equi-join on the landmark hash + a
  match-count threshold. Robust to amplitude/phase/level jitter by
  construction (the argmax bin is invariant), which is what makes it a
  NEAR-dup operator rather than an exact-bytes one.

Both operators quarantine corrupt payloads by skipping (the stats
operators surface them); fingerprinting is Arrow-batched Python, all
joins and counts stay JVM-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from .rows import map_bytes


# ---------------------------------------------------------------------------
# video
# ---------------------------------------------------------------------------

def video_phash_sequences(videos: DataFrame, *, every_s: float = 1.0,
                          max_frames: int = 8) -> DataFrame:
    """(video_id, bytes) -> (video_id, frame_no, phash, b0..b3): one
    64-bit frame hash + its four 16-bit LSH bands per sampled frame,
    through the real container decode + PNG + ahash chain."""
    from .images import phash_images
    from .video import frame_sample
    frames = frame_sample(videos, every_s=every_s, max_frames=max_frames)
    hashes = phash_images(frames.select("image_id", "bytes"))
    return (frames.select("image_id", "video_id", "frame_no")
            .join(hashes, "image_id")
            .select("video_id", "frame_no", "phash",
                    "b0", "b1", "b2", "b3"))


def dedup_video_pairs(videos: DataFrame | None = None, *,
                      every_s: float = 1.0,
                      max_frames: int = 8, max_hamming: int = 3,
                      min_frames: int = 3,
                      sequences: DataFrame | None = None) -> DataFrame:
    """Near-duplicate clip pairs: (vid_a, vid_b, matched_frames).

    A frame pair matches when the aligned (same frame_no) hashes are
    within ``max_hamming`` bits; a clip pair is emitted when
    ``matched_frames >= min_frames``. Alignment is by sampling index —
    re-encodes/quality variants align exactly; time-shifted copies are
    out of scope for this operator (the constellation approach of the
    audio path is the shift-tolerant design and ports directly if
    needed).

    Plan shape: band explode -> self EQUI-join on (frame_no, band,
    value) -> distinct candidate pair per frame -> bit_count filter ->
    count. No cross product anywhere; skew on a hot (band, value)
    bucket means that many true near-dups share a frame look, the same
    bounded-by-duplication argument as dedup_minhash_lsh.

    Lifecycle: the hash-sequence table feeds BOTH self-join sides, and
    Spark does not reuse the exchange across them (measured: the decode
    chain runs twice uncached), so when this function computes it, it
    caches it — and that cache lives until session end because a lazy
    return leaves no unpersist point (review r5). Callers who need
    deterministic release pass ``sequences=`` (built via
    :func:`video_phash_sequences`, persisted however they choose) and
    own its lifecycle; ownership follows construction.
    """
    if sequences is not None:
        seq = sequences
    elif videos is None:
        raise ValueError("pass videos= or a precomputed sequences=")
    else:
        seq = video_phash_sequences(
            videos, every_s=every_s, max_frames=max_frames).cache()
    bands = seq.select(
        "video_id", "frame_no", "phash",
        F.posexplode(F.array("b0", "b1", "b2", "b3"))
        .alias("band", "val"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, [F.col("a.frame_no") == F.col("b.frame_no"),
                       F.col("a.band") == F.col("b.band"),
                       F.col("a.val") == F.col("b.val"),
                       F.col("a.video_id") < F.col("b.video_id")])
            .select(F.col("a.video_id").alias("vid_a"),
                    F.col("b.video_id").alias("vid_b"),
                    F.col("a.frame_no").alias("frame_no"),
                    F.col("a.phash").alias("ha"),
                    F.col("b.phash").alias("hb"))
            .distinct())
    matched = cand.filter(
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= max_hamming)
    return (matched.groupBy("vid_a", "vid_b")
            .agg(F.countDistinct("frame_no").alias("matched_frames"))
            .filter(F.col("matched_frames") >= min_frames))


# ---------------------------------------------------------------------------
# planted near-dup fixtures (driver faces + tests)
# ---------------------------------------------------------------------------
# Construction with GUARANTEED margins, so the oracle's pair prediction
# is exact by mathematics rather than by measured probability:
#
# video — frame f of group g carries a 64-bit block pattern built from
# a (16,11) SECDED codeword (minimum distance 4) repeated in four
# 16-bit fields; member m flips one bit. Within a group, aligned frames
# differ by exactly 2 bits (<= max_hamming 3, and pigeonhole guarantees
# an identical LSH band); across groups/frames the codewords differ by
# >= 4 bits per field, so aligned hashes differ by >= 4*4 - 2 = 14 bits
# — no cross-group pair can ever pass the exact filter. Blocks render
# as 4x4 pixel squares at 200/50 luma, decisively across the ahash
# block-mean threshold, and the Y4M + PNG chain is lossless, so the
# decoded hash equals the planted code exactly.
#
# audio — group g plants the dominant-bin sequence
# b_t = 5 + ((g*101 % 199) + t * (1 + g*57 % 99)) % 199 over 7 frames
# of 512 samples; members differ only in amplitude. Each frame is an
# integer number of periods, so the rfft argmax IS the planted bin.
# The oracle rebuilds the same landmark relation in SQL and runs the
# same join arithmetic, so even incidental cross-group landmark
# collisions are predicted exactly.

_VIDEO_PX = 200, 50  # block luma for set / clear bits


def _secded16(v: int) -> int:
    """(16,11) SECDED codeword: Hamming(15,11) + overall parity bit —
    minimum Hamming distance 4 between any two codewords."""
    if not 0 <= v < 2048:
        raise ValueError(f"data value {v} outside 11 bits")
    bits = [0] * 16  # bit 0 = overall parity, 1..15 = Hamming positions
    for i, p in enumerate((3, 5, 6, 7, 9, 10, 11, 12, 13, 14, 15)):
        bits[p] = (v >> i) & 1
    for pp in (1, 2, 4, 8):
        bits[pp] = 0
        par = 0
        for p in range(1, 16):
            if p & pp:
                par ^= bits[p]
        bits[pp] = par
    bits[0] = sum(bits[1:]) & 1
    return sum(b << i for i, b in enumerate(bits))


def neardup_frame_code(vec_id: int, f: int) -> int:
    """Planted 64-bit frame hash for clip ``vec_id``, frame ``f``.

    Modulus 2039 is PRIME and coprime to the group multiplier 23, so
    two groups g != g' (both < 2039) can never share a code at the
    same frame index — 23*(g-g') % 2039 != 0 — which is the aligned-
    frame collision that matters (the join aligns by frame_no). The
    first cut used 2047 = 23*89 and groups 89 apart aliased exactly.
    """
    g, m = vec_id // 4, vec_id % 4
    cw = _secded16((g * 23 + f * 5 + 1) % 2039)
    code = cw | (cw << 16) | (cw << 32) | (cw << 48)
    return code ^ (1 << m)


def neardup_video_bytes(vec_id: int, *, n_frames: int = 4) -> bytes:
    """Deterministic Y4M clip whose frame ahashes realize
    :func:`neardup_frame_code` (32x32 luma, 4x4 blocks at 200/50)."""
    from .video import encode_y4m
    hi, lo = _VIDEO_PX
    frames = np.empty((n_frames, 32, 32), dtype=np.uint8)
    for f in range(n_frames):
        code = neardup_frame_code(vec_id, f)
        for k in range(64):
            r, c = divmod(k, 8)
            frames[f, r * 4:(r + 1) * 4, c * 4:(c + 1) * 4] = \
                hi if (code >> k) & 1 else lo
    return encode_y4m(frames, fps=1)


AUDIO_FRAME = 512
AUDIO_NFRAMES = 7
AUDIO_RATE = 8_000


def neardup_audio_bin(vec_id: int, t: int) -> int:
    """Planted dominant rfft bin for clip ``vec_id``, frame ``t`` —
    EXACTLY the arithmetic the dedup_audio oracle mirrors in SQL."""
    g = vec_id // 4
    return 5 + (((g * 101) % 199 + t * (1 + (g * 57) % 99)) % 199)


def neardup_audio_bytes(vec_id: int) -> bytes:
    """Deterministic WAV clip realizing the planted bin sequence;
    members of a group differ only in amplitude (near-, not exact-,
    duplicates at the byte level)."""
    from .audio import encode_wav
    m = vec_id % 4
    amp = 0.45 + 0.01 * m
    n = np.arange(AUDIO_FRAME)
    parts = []
    for t in range(AUDIO_NFRAMES):
        b = neardup_audio_bin(vec_id, t)
        parts.append(amp * np.sin(2.0 * np.pi * b * n / AUDIO_FRAME))
    x = np.concatenate(parts)
    return encode_wav(np.round(x * 32767.0).astype(np.int16),
                      rate=AUDIO_RATE)


# ---------------------------------------------------------------------------
# audio
# ---------------------------------------------------------------------------

FINGERPRINT_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("t", T.IntegerType()),
    T.StructField("lh", T.LongType()),
])


def audio_fingerprints(audio: DataFrame, *, frame_len: int = 512,
                       fanout: int = 2) -> DataFrame:
    """(audio_id, bytes) -> (audio_id, t, lh) landmark rows.

    Per non-overlapping ``frame_len``-sample frame: dominant rfft bin
    (the spectral peak); each peak pairs with the next ``fanout`` peaks
    into landmark hash ``(b1 * nb + b2) * (fanout + 1) + dt`` with
    ``nb = frame_len // 2 + 1`` (the rfft bin count, Nyquist bin
    included — a 256-sized base would alias (b1, 256, dt) with
    (b1 + 1, 0, dt) and a fixed *4 would alias dt >= 5 at high
    fanout) — the constellation scheme, anchored at frame index
    ``t``."""
    from .audio import decode_wav

    # failed decodes are dropped here; audio_stats surfaces them
    def kernel(aid, data):
        _, x = decode_wav(data)
        nf = len(x) // frame_len
        if nf < 2:
            return []
        frames = x[:nf * frame_len].reshape(nf, frame_len)
        bins = np.abs(np.fft.rfft(frames, axis=1)).argmax(axis=1)
        nb = frame_len // 2 + 1  # rfft bins incl. Nyquist
        out = []
        for t in range(nf):
            for dt in range(1, fanout + 1):
                if t + dt < nf:
                    lh = ((int(bins[t]) * nb + int(bins[t + dt]))
                          * (fanout + 1) + dt)
                    out.append((aid, t, lh))
        return out

    return map_bytes(audio, "audio_id", FINGERPRINT_SCHEMA, kernel)


def dedup_audio_pairs(audio: DataFrame | None = None, *,
                      frame_len: int = 512,
                      fanout: int = 2, min_matches: int = 6,
                      fingerprints: DataFrame | None = None) -> DataFrame:
    """Near-duplicate clip pairs: (aid_a, aid_b, n_matches) where
    ``n_matches`` counts landmark-hash collisions between the two clips
    (equi-join on ``lh``) and pairs below ``min_matches`` are dropped —
    isolated constellation coincidences between unrelated clips stay
    far below any real duplicate's match count.

    Lifecycle: same contract as :func:`dedup_video_pairs` — an
    internally-computed fingerprint table is cached for the self-join
    and lives until session end; pass ``fingerprints=`` (from
    :func:`audio_fingerprints`) to own persistence and release."""
    if fingerprints is not None:
        fp = fingerprints
    elif audio is None:
        raise ValueError("pass audio= or precomputed fingerprints=")
    else:
        fp = audio_fingerprints(
            audio, frame_len=frame_len, fanout=fanout).cache()
    a, b = fp.alias("a"), fp.alias("b")
    return (a.join(b, [F.col("a.lh") == F.col("b.lh"),
                       F.col("a.audio_id") < F.col("b.audio_id")])
            .groupBy(F.col("a.audio_id").alias("aid_a"),
                     F.col("b.audio_id").alias("aid_b"))
            .agg(F.count("*").alias("n_matches"))
            .filter(F.col("n_matches") >= min_matches))
