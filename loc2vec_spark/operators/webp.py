"""WebP container probe — metadata parses for real, pixels are the
honest stub.

WebP is the single most common modern crawl-image format this repo
cannot pixel-decode: the VP8 (lossy) payload needs a full boolean
arithmetic decoder + loop filter and VP8L (lossless) a meta-Huffman
+ LZ77 + 4-transform pipeline — real codec libraries, out of scope
for the stdlib/numpy rule the other five formats meet. This module
gives WebP the SAME treatment as compressed video (``mp4.mp4_probe``):
the container and every payload HEADER parse for real, so a 10^12-row
ingest can route, size-filter, dedup-by-metadata, and quarantine
WebP rows correctly — and plugging a pixel decoder in later is a
one-function swap behind the same operator surface.

Parsed for real, per the public container/bitstream specs:

- RIFF/WEBP chunk walk (bounded, word-aligned);
- ``VP8 `` lossy: frame-tag keyframe bit + profile/show-frame,
  start code ``9D 01 2A``, 14-bit width/height with scaling bits;
- ``VP8L`` lossless: ``2F`` signature, 14-bit w-1/h-1 fields,
  alpha-hint bit, 3-bit version (must be 0);
- ``VP8X`` extended: feature flags (ICC/alpha/EXIF/XMP/animation),
  24-bit canvas w-1/h-1; ``ANMF`` frames counted for animations;
- which auxiliary chunks are present (``ALPH``/``ICCP``/``EXIF``/
  ``XMP ``).

:func:`decode_webp` raises the explicit NotImplementedError stub
naming the missing piece (a bitstream DECODER, not container work),
mirroring ``images.decode_av``'s contract language; corrupt input
raises ValueError first — the probe/stub split keeps quarantine
semantics exact (a corrupt file must never read as
"valid-but-undecodable").
"""
from __future__ import annotations

import struct

from pyspark.sql import DataFrame, types as T

from .rows import map_bytes


def parse_webp(data: bytes) -> dict:
    """WebP bytes -> metadata dict; ValueError on corrupt input.

    Keys: variant ('lossy'|'lossless'|'extended'), w, h, alpha,
    animated, n_frames, chunks (list of fourcc strings)."""
    from .riff import walk_riff
    out = {"variant": None, "w": None, "h": None, "alpha": False,
           "animated": False, "n_frames": 0, "chunks": []}
    for tag, body in walk_riff(data, b"WEBP", strict_sizes=True):
        out["chunks"].append(tag.decode("latin-1"))
        if tag == b"VP8 " and out["variant"] is None:
            out["variant"] = "lossy"
            out.update(_vp8_header(body))
        elif tag == b"VP8L" and out["variant"] is None:
            out["variant"] = "lossless"
            out.update(_vp8l_header(body))
        elif tag == b"VP8X":
            out["variant"] = "extended"
            out.update(_vp8x_header(body))
        elif tag == b"ANMF":
            out["n_frames"] += 1
        elif tag == b"ALPH":
            out["alpha"] = True
    if out["variant"] is None:
        raise ValueError("no VP8 /VP8L/VP8X payload chunk")
    if out["n_frames"] == 0 and not out["animated"]:
        # a non-animated still is ONE frame regardless of whether it
        # carries a VP8X metadata header (review r5: keying this on
        # the variant made byte-identical payloads report 0 vs 1);
        # an animated file with zero ANMF chunks honestly reports 0
        out["n_frames"] = 1
    return out


def _vp8_header(body: bytes) -> dict:
    if len(body) < 10:
        raise ValueError("VP8 payload shorter than its headers")
    tag = body[0] | (body[1] << 8) | (body[2] << 16)
    keyframe = not (tag & 1)
    if not keyframe:
        raise ValueError("VP8 payload starts with an interframe")
    if body[3:6] != b"\x9d\x01\x2a":
        raise ValueError("bad VP8 keyframe start code")
    w_raw, h_raw = struct.unpack("<HH", body[6:10])
    return {"w": w_raw & 0x3FFF, "h": h_raw & 0x3FFF}


def _vp8l_header(body: bytes) -> dict:
    if len(body) < 5:
        raise ValueError("VP8L payload shorter than its header")
    if body[0] != 0x2F:
        raise ValueError(f"bad VP8L signature 0x{body[0]:02x}")
    bits = struct.unpack("<I", body[1:5])[0]
    w = (bits & 0x3FFF) + 1
    h = ((bits >> 14) & 0x3FFF) + 1
    alpha = bool((bits >> 28) & 1)
    version = (bits >> 29) & 0x7
    if version != 0:
        raise ValueError(f"unknown VP8L version {version}")
    return {"w": w, "h": h, "alpha": alpha}


def _vp8x_header(body: bytes) -> dict:
    if len(body) < 10:
        raise ValueError("VP8X chunk shorter than 10 bytes")
    flags = body[0]
    w = (body[4] | (body[5] << 8) | (body[6] << 16)) + 1
    h = (body[7] | (body[8] << 8) | (body[9] << 16)) + 1
    return {"w": w, "h": h,
            "alpha": bool(flags & 0x10),
            "animated": bool(flags & 0x02)}


def decode_webp(data: bytes):
    """Pixel decode stub: validates the container FIRST (corrupt input
    raises ValueError — quarantine), then names the missing piece."""
    meta = parse_webp(data)
    raise NotImplementedError(
        f"WebP {meta['variant']} pixel decode requires a VP8/VP8L "
        "bitstream decoder (boolean arithmetic coder / meta-Huffman + "
        "LZ77 pipeline) not implementable under the stdlib/numpy "
        "rule; the container and headers parse for real (webp_probe) "
        "— plug a decoder into images.decode_image's sniff for the "
        "one-function swap")


PROBE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("variant", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("alpha", T.BooleanType()),
    T.StructField("animated", T.BooleanType()),
    T.StructField("n_frames", T.IntegerType()),
])


def webp_probe(images: DataFrame) -> DataFrame:
    """Container probe over a binary WebP column — the image
    counterpart of ``mp4_probe``: route/size/animation
    metadata per file, corrupt rows quarantine as ok=false. One Arrow
    crossing: a per-row kernel of :func:`.rows.map_bytes`."""

    def kernel(iid, data):
        m = parse_webp(data)
        return [(iid, True, m["variant"], m["w"], m["h"], m["alpha"],
                 m["animated"], m["n_frames"])]

    return map_bytes(images, "image_id", PROBE_SCHEMA, kernel)


# ---------------------------------------------------------------------------
# deterministic fixture synthesis (tests + fuzz seeds; headers are
# real per spec, payloads past the headers are opaque filler)
# ---------------------------------------------------------------------------

def synth_webp_bytes(*, variant: str = "lossy", w: int = 64,
                     h: int = 48, alpha: bool = False,
                     n_frames: int = 0, payload: int = 64) -> bytes:
    """Build a spec-valid WebP container around filler payload."""
    def chunk(tag: bytes, body: bytes) -> bytes:
        return (tag + struct.pack("<I", len(body)) + body
                + (b"\x00" if len(body) & 1 else b""))

    fill = bytes((i * 37) % 251 for i in range(payload))
    if variant == "lossy":
        tag3 = struct.pack("<I", (payload << 5) | 0x10)[:3]  # keyframe
        body = (tag3 + b"\x9d\x01\x2a"
                + struct.pack("<HH", w, h) + fill)
        chunks = chunk(b"VP8 ", body)
    elif variant == "lossless":
        bits = ((w - 1) & 0x3FFF) | (((h - 1) & 0x3FFF) << 14) \
            | (int(alpha) << 28)
        chunks = chunk(b"VP8L", b"\x2f" + struct.pack("<I", bits)
                       + fill)
    elif variant == "extended":
        flags = (0x10 if alpha else 0) | (0x02 if n_frames else 0)
        vp8x = (bytes([flags]) + b"\x00\x00\x00"
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"))
        chunks = chunk(b"VP8X", vp8x)
        for k in range(n_frames):
            chunks += chunk(b"ANMF", bytes(16) + fill)
        if not n_frames:
            tag3 = struct.pack("<I", (payload << 5) | 0x10)[:3]
            chunks += chunk(b"VP8 ", tag3 + b"\x9d\x01\x2a"
                            + struct.pack("<HH", w, h) + fill)
    else:
        raise ValueError(f"unknown variant {variant}")
    return (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP"
            + chunks)
