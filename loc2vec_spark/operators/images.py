"""Multimodal binary-column operators (S3 + embedding export E2).

The reference decodes one PNG per row with torchvision
(``/root/reference/src/loc2vec/data_loading.py:124,129``) and exports
embeddings by running the net over batches
(``loc2vec_run.py:34-47``). The engine treats images as opaque binary
columns with typed metadata (BASELINE.json input_hint) and crosses into
Python exactly once per stage: each operator is a per-row kernel run by
:func:`.rows.map_bytes`:

- :func:`decode_stats` — decode + per-image pixel statistics (the PSNR /
  caption invariants are checked here in tests),
- :func:`image_features` — deterministic embedding stand-in (channel
  histograms): the engine contract is the dataflow, not conv weights
  (torch absent in sandbox, SURVEY.md §7.3); swapping in a real model is
  a one-function change behind the same operator surface,
- :func:`resize_images` — nearest-neighbor resize, re-encoded PNG,
- audio/video decode (:func:`decode_av`): real codec-free paths for
  WAV (``operators/audio.py``) and YUV4MPEG2 (``operators/video.py``);
  baseline JPEG decodes for real too (``operators/jpeg.py``, pure
  numpy Huffman+IDCT) via :func:`decode_image`'s magic sniff; the
  remaining compressed a/v codecs (MP3, AAC, H.264) stay stubbed: the
  engine ships no decoder for them.

Corrupt rows never abort the job: ``map_bytes`` turns a failed row into
an ok=false row with NULL stats, or drops it where the schema has no
``ok`` column (dead-letter semantics, SURVEY.md §2.8).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, types as T

from ..png_codec import decode_png, encode_png
from .rows import map_bytes


def decode_image(data: bytes) -> np.ndarray:
    """Magic-sniffing image decode: PNG (`png_codec`), baseline +
    progressive JPEG (`operators/jpeg.py`), GIF (`operators/gif.py`,
    first composed frame), BMP (`operators/bmp.py`), or baseline TIFF
    (`operators/tiff.py`) -> uint8 (H, W) | (H, W, 3). The reference
    accepts its formats through torchvision's read_image
    (/root/reference/src/loc2vec/data_loading.py:124); every image
    operator below routes through this, so tiles in ANY of the five
    formats flow the whole pipeline (stats, quality, phash, resize,
    augmentation). Unknown magic raises -> the caller's quarantine
    path."""
    if data[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg
        return decode_jpeg(data)
    if data[:4] == b"GIF8":
        from .gif import decode_gif
        return decode_gif(data)
    if data[:2] == b"BM":
        from .bmp import decode_bmp
        return decode_bmp(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff
        return decode_tiff(data)
    if data[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):
        from .ico import decode_ico
        return decode_ico(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        from .webp import decode_webp
        return decode_webp(data)  # container-validating honest stub
    return decode_png(data)


DECODE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("mean_px", T.DoubleType()),
    T.StructField("std_px", T.DoubleType()),
])


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode the binary column batch-at-a-time; emit per-image stats.

    Rows with undecodable bytes get ok=false (quarantine, not failure —
    one corrupt image of 10^12 must not kill the job); NULL-bytes rows
    are filtered out before the crossing."""

    def kernel(iid, data):
        arr = decode_image(data)
        return [(iid, True, arr.shape[0], arr.shape[1],
                 round(float(arr.mean()), 6), round(float(arr.std()), 6))]

    return map_bytes(images, "image_id", DECODE_SCHEMA, kernel)


FEATURE_DIM = 16  # matches the reference's embedding head (loc2vec_nn.py:32)

FEATURES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def image_features(images: DataFrame) -> DataFrame:
    """E2 stand-in: deterministic 16-dim features from channel histograms.

    Replaces the reference's resnet forward (``loc2vec_run.py:38-40``)
    with a deterministic featurizer so the export *pipeline* (decode ->
    batch -> feature -> (id, vector) rows) is testable without torch.
    Unlike the reference, the id travels IN the row, which fixes its
    id/embedding misalignment bug by construction
    (``loc2vec_run.py:33-48``, SURVEY.md §3 E2).
    """

    def kernel(iid, data):
        arr = decode_image(data).astype(np.float32)
        if arr.ndim == 2:
            arr = arr[:, :, None].repeat(3, axis=2)
        # 3 channels x 4-bin histogram + 4 moments = 16 dims
        feats = []
        for c in range(3):
            h, _ = np.histogram(arr[:, :, c], bins=4, range=(0, 256))
            feats.extend(h / arr[:, :, c].size)
        feats.extend([arr.mean() / 255.0, arr.std() / 255.0,
                      arr.min() / 255.0, arr.max() / 255.0])
        return [(iid, np.asarray(feats, dtype=np.float32))]

    return map_bytes(images, "image_id", FEATURES_SCHEMA, kernel)


RESIZE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
])


def resize_images(images: DataFrame, *, out_px: int = 32) -> DataFrame:
    """Nearest-neighbor resize, PNG re-encode (pure numpy indexing)."""

    def kernel(iid, data):
        arr = decode_image(data)
        hh, ww = arr.shape[0], arr.shape[1]
        ri = (np.arange(out_px) * hh // out_px)
        ci = (np.arange(out_px) * ww // out_px)
        small = arr[np.ix_(ri, ci)]
        return [(iid, encode_png(small), out_px, out_px)]

    return map_bytes(images, "image_id", RESIZE_SCHEMA, kernel)


PHASH_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("b0", T.IntegerType()),
    T.StructField("b1", T.IntegerType()),
    T.StructField("b2", T.IntegerType()),
    T.StructField("b3", T.IntegerType()),
])


def _ahash64(arr: np.ndarray) -> int:
    """64-bit average-hash: luma -> 8x8 block means (integral image,
    exact, any h/w >= 8) -> threshold at the block-mean mean. Bit
    (r*8+c) is bit 63-(r*8+c) of the int so hashes read row-major."""
    gray = arr.astype(np.float64)
    if gray.ndim == 3:
        gray = gray.mean(axis=2)
    hh, ww = gray.shape
    ii = np.zeros((hh + 1, ww + 1))
    ii[1:, 1:] = gray.cumsum(0).cumsum(1)
    rb = (np.arange(9) * hh) // 8     # block boundaries
    cb = (np.arange(9) * ww) // 8
    sums = (ii[rb[1:], :][:, cb[1:]] - ii[rb[:-1], :][:, cb[1:]]
            - ii[rb[1:], :][:, cb[:-1]] + ii[rb[:-1], :][:, cb[:-1]])
    areas = np.outer(rb[1:] - rb[:-1], cb[1:] - cb[:-1])
    blocks = sums / areas
    bits = (blocks > blocks.mean()).ravel()
    h = 0
    for bit in bits:
        h = (h << 1) | int(bit)
    return h


def phash_images(images: DataFrame) -> DataFrame:
    """Image near-dup signatures: 64-bit average-hash + its 4x16-bit
    LSH bands, straight off the decoded pixels.

    The bands are the join key of the ``dedup_phash`` query's banded
    Hamming search (hamming <= 3 guarantees a shared band), so this
    operator is the executable bridge from real image payloads to that
    equi-join: phash_images -> band explode -> bucket join -> exact
    bit_count filter. The input_hint schema carries a precomputed
    ``phash`` column for exactly this pipeline; this operator (re)derives
    it from pixels. Average-hash, not DCT-phash: no scipy in the
    container, and aHash's integral-image block means are exact in pure
    numpy — the band/bit plumbing downstream is hash-agnostic.
    """

    def kernel(iid, data):
        h = _ahash64(decode_image(data))
        signed = h - (1 << 64) if h >= (1 << 63) else h
        bands = [(h >> s) & 0xFFFF for s in (48, 32, 16, 0)]
        return [(iid, signed, *bands)]

    return map_bytes(images, "image_id", PHASH_SCHEMA, kernel)


QUALITY_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("sharpness", T.DoubleType()),     # Laplacian variance
    T.StructField("edge_energy", T.DoubleType()),   # mean Sobel magnitude
    T.StructField("contrast", T.DoubleType()),      # luma std / 255
    T.StructField("brightness", T.DoubleType()),    # luma mean / 255
    T.StructField("entropy", T.DoubleType()),       # 256-bin luma entropy
])


def _luma(arr: np.ndarray) -> np.ndarray:
    gray = arr.astype(np.float64)
    return gray.mean(axis=2) if gray.ndim == 3 else gray


def quality_signals(arr: np.ndarray) -> tuple[float, float, float, float,
                                              float]:
    """Pure-numpy quality kernel for one decoded image (the pytest
    oracle calls this directly on source pixels).

    - sharpness: variance of the 4-neighbor Laplacian — the classic
      blur detector (low = blurry/flat tile);
    - edge_energy: mean Sobel gradient magnitude — texture density;
    - contrast/brightness: luma std/mean normalized to [0, 1];
    - entropy: Shannon entropy of the 256-bin luma histogram, bits —
      near 0 flags constant/empty tiles (the image analog of
      text_quality's boilerplate ratios).
    """
    g = _luma(arr)
    lap = (4.0 * g[1:-1, 1:-1] - g[:-2, 1:-1] - g[2:, 1:-1]
           - g[1:-1, :-2] - g[1:-1, 2:])
    gx = ((g[:-2, 2:] + 2.0 * g[1:-1, 2:] + g[2:, 2:])
          - (g[:-2, :-2] + 2.0 * g[1:-1, :-2] + g[2:, :-2]))
    gy = ((g[2:, :-2] + 2.0 * g[2:, 1:-1] + g[2:, 2:])
          - (g[:-2, :-2] + 2.0 * g[:-2, 1:-1] + g[:-2, 2:]))
    hist = np.bincount(np.clip(g, 0, 255).astype(np.int64).ravel(),
                       minlength=256)
    p = hist[hist > 0] / g.size
    return (float(lap.var()),
            float(np.sqrt(gx * gx + gy * gy).mean()),
            float(g.std() / 255.0),
            float(g.mean() / 255.0),
            float(-(p * np.log2(p)).sum()))


def image_quality(images: DataFrame) -> DataFrame:
    """Per-image quality scoring for training-data filtering — the image
    face of the text_quality operator (blur, texture, exposure,
    information content), one Arrow crossing, quarantine-on-error.

    Downstream use is a plain filter (e.g. ``sharpness > t AND
    entropy > 1``): the signals are raw and deterministic, thresholds
    stay with the caller/job (run_mining --min-sharpness)."""

    def kernel(iid, data):
        arr = decode_image(data)
        # degenerate tiles (< 3x3) have empty Laplacian/Sobel slices ->
        # NaN sharpness that would pass the ok gate yet fail every
        # threshold filter; such tiles are quarantined like corrupt ones
        if arr.shape[0] < 3 or arr.shape[1] < 3:
            raise ValueError(f"tile {arr.shape[:2]} smaller than 3x3")
        return [(iid, True, *(round(v, 6) for v in quality_signals(arr)))]

    return map_bytes(images, "image_id", QUALITY_SCHEMA, kernel)


BORDER_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("top", T.IntegerType()),
    T.StructField("bottom", T.IntegerType()),   # exclusive crop row
    T.StructField("left", T.IntegerType()),
    T.StructField("right", T.IntegerType()),    # exclusive crop col
    T.StructField("border_frac", T.DoubleType()),
])


def border_box(arr: np.ndarray, tol: int = 8) -> tuple[int, int, int,
                                                       int]:
    """Minimal crop box (top, bottom, left, right — half-open) that
    removes uniform letterbox/pillarbox borders.

    The border color anchors on the four CORNER pixels' median luma;
    an edge row/col is border while every pixel sits within ``tol`` of
    it. Pure numpy, one pass per side. A fully uniform image
    degenerates to an empty box (0, 0, 0, 0) — the caller's signal
    that there is no content at all."""
    lum = _luma(arr).astype(np.int16)
    h, w = lum.shape
    ref = int(np.median([lum[0, 0], lum[0, -1],
                         lum[-1, 0], lum[-1, -1]]))
    row_is = (np.abs(lum - ref) <= tol).all(axis=1)
    col_is = (np.abs(lum - ref) <= tol).all(axis=0)
    content_rows = np.flatnonzero(~row_is)
    content_cols = np.flatnonzero(~col_is)
    if content_rows.size == 0 or content_cols.size == 0:
        return 0, 0, 0, 0
    return (int(content_rows[0]), int(content_rows[-1]) + 1,
            int(content_cols[0]), int(content_cols[-1]) + 1)


def detect_borders(images: DataFrame, *, tol: int = 8) -> DataFrame:
    """Uniform-border (letterbox/pillarbox/padding) detection — the
    crop stage a dedup pipeline runs BEFORE phash/embedding, because
    a padded re-post of the same picture shifts every DCT coefficient
    and defeats near-dup detection while the cropped content is
    byte-identical.

    Emits the crop box + ``border_frac`` (fraction of pixels the
    borders occupy; 1.0 = fully uniform image, a filterable artifact
    in its own right). Corrupt rows quarantine as ok=false. Arrow
    batches end-to-end; the decode rides the same magic sniff as
    every other image operator."""

    def kernel(iid, data):
        arr = decode_image(data)
        t, b, le, r = border_box(arr, tol=tol)
        frac = 1.0 - ((b - t) * (r - le)) / (arr.shape[0] * arr.shape[1])
        return [(iid, True, t, b, le, r, round(frac, 6))]

    return map_bytes(images, "image_id", BORDER_SCHEMA, kernel)


AUGMENT_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("base_id", T.StringType()),
    T.StructField("aug_op", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
])

_AUG_OPS = ("identity", "fliplr", "flipud", "rot90", "rot180", "rot270")
_AUG_KNUTH = 2654435761


def _aug_pick(image_id: str, seed: int, n_ops: int) -> int:
    """Seeded per-image op pick — pure function of (id, seed), so the
    augmented corpus is identical at any parallelism and re-run
    (F10 discipline: no unseeded randomness anywhere)."""
    h = 0
    for ch in str(image_id):
        h = (h * 131 + ord(ch)) & 0x7FFFFFFFFFFFFFFF
    return ((h * _AUG_KNUTH + seed) >> 16) % n_ops


def augment_images(images: DataFrame, *, seed: int = 42,
                   copies: int = 1) -> DataFrame:
    """Seeded geometric augmentation (flip/rotate), re-encoded PNG.

    The reference has NO augmentation stage (it trains on raw tiles —
    ``data_loading.py`` loads and stacks, nothing else); a contrastive
    training pipeline at corpus scale standardly multiplies its
    anchor/positive pool with cheap geometric transforms. Dihedral ops
    only (lossless, orientation-preserving for overhead tiles);
    ``copies`` > 1 emits that many differently-seeded variants per
    image. One Arrow crossing; op choice is a seeded hash of
    (image_id, copy), never RNG state — bit-identical output at any
    partitioning (test_images).
    """

    def kernel(iid, data):
        arr = decode_image(data)
        out = []
        for c in range(copies):
            op = _AUG_OPS[_aug_pick(f"{iid}#{c}", seed, len(_AUG_OPS))]
            if op == "identity":
                aug = arr
            elif op == "fliplr":
                aug = arr[:, ::-1]
            elif op == "flipud":
                aug = arr[::-1, :]
            elif op == "rot90":
                aug = np.rot90(arr, 1)
            elif op == "rot180":
                aug = np.rot90(arr, 2)
            else:
                aug = np.rot90(arr, 3)
            aug = np.ascontiguousarray(aug)
            # ids always suffixed: variants are NEW rows that must never
            # collide with their source id; base_id travels as its OWN
            # column — string-splitting the suffixed id back apart would
            # mis-join any source id that itself contains '#'
            out.append((f"{iid}#aug{c}", iid, op, encode_png(aug),
                        aug.shape[1], aug.shape[0]))
        return out

    return map_bytes(images, "image_id", AUGMENT_SCHEMA, kernel)


def decode_av(images: DataFrame, *, kind: str) -> DataFrame:
    """Audio/video decode dispatcher.

    Audio and video both have REAL executable paths — WAV parses with
    stdlib wave + numpy (:mod:`loc2vec_spark.operators.audio`) and
    YUV4MPEG2 parses with pure numpy
    (:mod:`loc2vec_spark.operators.video`): decode, stats, features,
    frame sampling, quarantine-on-error, all as per-row kernels of
    :func:`.rows.map_bytes`, like :func:`decode_stats`. Baseline and
    progressive JPEG images decode for real as well (:mod:`.jpeg`, via
    :func:`decode_image` — kind="image" is NOT stubbed; it is the
    default image path), and MP4 containers demux for real with full
    Motion-JPEG pixel decode (:mod:`.mp4`, routed via
    ``video.decode_video``'s magic sniff). The remaining compressed
    a/v codecs (MP3, AAC, H.264 bitstream decode) are honest stubs:
    the engine ships no decoder for them. MP4 containers still parse
    for real (``mp4.mp4_probe``) while their H.264 pixels quarantine;
    plugging a codec in is a one-function swap behind the same operator
    surface.
    """
    if kind == "audio":
        from .audio import audio_stats
        return audio_stats(images)
    if kind == "video":
        from .video import video_stats
        return video_stats(images)
    raise NotImplementedError(
        f"{kind} decoding requires external codec libraries not present "
        "in this environment; plug a decoder in as a per-row kernel of "
        "operators.rows.map_bytes (see operators/audio.py and video.py "
        "for the wav/y4m instances of exactly that swap)")
