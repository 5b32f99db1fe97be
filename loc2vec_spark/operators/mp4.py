"""MP4 / ISO-BMFF container operators (multimodal surface, task brief).

The reference ingests video through external codec stacks; this engine's
sandbox has none, so the round-2 rule stands: ship REAL parsing wherever
the format needs no codec library, and refuse loudly where it does.
For MP4 that line falls INSIDE the file:

- **Demux is real.** ISO/IEC 14496-12 box walking (``ftyp``/``moov``/
  ``trak``/``stbl``) plus full sample-table resolution — ``stts``
  timing, ``stsz`` sizes, ``stsc`` sample-to-chunk, ``stco``/``co64``
  chunk offsets — yields the exact byte range of every sample in
  ``mdat``. No codec involved: this is the part a 100-TB ingest
  pipeline needs first (validate containers, read codec/dims/duration/
  bitrate, route by codec) and it works for ANY codec fourcc.
- **Motion-JPEG decodes for real.** MJPEG-in-MP4 samples are complete
  JFIF images, so each one round-trips through the repo's own pure-
  numpy JPEG codec (:mod:`.jpeg` — baseline AND progressive). MP4
  video therefore flows the whole video pipeline (stats, motion,
  frame-sample into the image pipeline, clip features) end to end.
- **Compressed codecs stay honest.** ``avc1``/``hev1``/``vp09``/
  ``av01`` samples demux fine (:func:`parse_mp4`, :func:`mp4_probe`
  report them) but pixel decode raises ``ValueError`` -> the caller's
  quarantine path, exactly like every other unsupported variant in
  this package (no silent garbage).

Reference analog: torchvision/av ingestion in
/root/reference/src/loc2vec/data_loading.py:124 accepts container
formats transparently; here the supported/unsupported boundary is
explicit and tested.

The writer (:func:`encode_mjpeg_mp4`) exists for golden fixtures and
emits a minimal but spec-complete file (ftyp + mdat + moov with full
stbl), one chunk per sample; ``use_co64`` forces 64-bit chunk offsets
to cover the >4 GiB-file branch of the parser.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, types as T

from .jpeg import decode_jpeg, encode_jpeg
from .rows import map_bytes

# fourccs whose samples are self-contained JFIF images (decodable here)
_JPEG_CODECS = {"jpeg", "mjpa", "mjpb"}

_LUMA = np.array([0.299, 0.587, 0.114])


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags) + payload)


_UNITY_MATRIX = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                            0x40000000)


def _visual_sample_entry(codec: str, w: int, h: int) -> bytes:
    """VisualSampleEntry (14496-12 §12.1.3): 16-byte SampleEntry header
    + 70-byte visual body. width/height land at entry offsets 32/34."""
    body = (b"\x00" * 6 + struct.pack(">H", 1)        # reserved + dri
            + b"\x00" * 16                            # pre_defined/reserved
            + struct.pack(">HH", w, h)
            + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
            + b"\x00" * 4                             # reserved
            + struct.pack(">H", 1)                    # frame_count
            + b"\x00" * 32                            # compressorname
            + struct.pack(">Hh", 0x0018, -1))         # depth, pre_defined
    return _box(codec.encode("ascii"), body)


def encode_mjpeg_mp4(frames: np.ndarray, fps: int = 25, *,
                     quality: int = 90, codec: str = "jpeg",
                     use_co64: bool = False) -> bytes:
    """(n, h, w) uint8 luma frames -> MJPEG-in-MP4 bytes.

    Each frame becomes one JPEG sample (one chunk per sample). The
    ``codec`` knob exists for tests: writing the same samples under an
    ``avc1`` sample entry produces a structurally valid file whose
    pixels this module must REFUSE to decode (they would not really be
    H.264, and a real avc1 file needs a codec we don't have either).
    """
    frames = np.ascontiguousarray(frames, dtype=np.uint8)
    n, h, w = frames.shape
    if n == 0:
        raise ValueError("need at least one frame")
    if fps <= 0:
        raise ValueError(f"non-positive frame rate {fps}")
    samples = [encode_jpeg(f, quality=quality) for f in frames]

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200)
                + b"isom" + b"iso2")
    # mdat directly follows ftyp; sample offsets are absolute file
    # offsets, so lay mdat out BEFORE moov (progressive-download order
    # is moov-first, but offsets are then a two-pass fixup — the
    # parser accepts either order, the writer keeps the simple one)
    mdat_payload = b"".join(samples)
    mdat_off = len(ftyp) + 8
    offsets = []
    pos = mdat_off
    for s in samples:
        offsets.append(pos)
        pos += len(s)
    mdat = _box(b"mdat", mdat_payload)

    timescale = int(fps)
    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIIII", 0, 0, timescale, n, 0x00010000)
        + struct.pack(">H", 0x0100) + b"\x00" * 10
        + _UNITY_MATRIX + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, 7, struct.pack(">IIIII", 0, 0, 1, 0, n)
                 + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
                 + _UNITY_MATRIX
                 + struct.pack(">II", w << 16, h << 16))
    mdhd = _full(b"mdhd", 0, 0, struct.pack(
        ">IIII", 0, 0, timescale, n) + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"vide" + b"\x00" * 12
                 + b"loc2vec\x00")
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1)
                 + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)

    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1)
                 + _visual_sample_entry(codec, w, h))
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, 1, 1))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n)
                 + b"".join(struct.pack(">I", len(s)) for s in samples))
    if use_co64:
        stco = _full(b"co64", 0, 0, struct.pack(">I", n)
                     + b"".join(struct.pack(">Q", o) for o in offsets))
    else:
        stco = _full(b"stco", 0, 0, struct.pack(">I", n)
                     + b"".join(struct.pack(">I", o) for o in offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _walk(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for each box in
    [start, end). Validates sizes so corrupt files fail loudly."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        size = struct.unpack(">I", data[pos:pos + 4])[0]
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            size = struct.unpack(">Q", data[pos + 8:pos + 16])[0]
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError(
                f"box {btype!r} size {size} overruns container")
        yield btype, body, pos + size
        pos += size


def _child(data: bytes, start: int, end: int, fourcc: bytes):
    for btype, b, e in _walk(data, start, end):
        if btype == fourcc:
            return b, e
    return None


def _u32s(data: bytes, pos: int, n: int, end: int | None = None
          ) -> list[int]:
    """Read n big-endian u32s, bounded by the ENCLOSING BOX end when
    the caller supplies one — a declared table that spills past its own
    box payload into sibling boxes or mdat must quarantine, not parse
    neighbor bytes as confidently-wrong entries (ADVICE r4)."""
    limit = len(data) if end is None else min(end, len(data))
    if pos + 4 * n > limit:
        raise ValueError("table overruns its box")
    return list(struct.unpack(f">{n}I", data[pos:pos + 4 * n]))


def parse_mp4(data: bytes) -> dict:
    """ISO-BMFF bytes -> container metadata + resolved sample map.

    Returns ``{brand, timescale, duration_s, tracks: [...]}``; each
    video track dict carries ``codec``, ``w``/``h``, ``n_samples``,
    ``fps`` (timescale / mean stts delta), and ``samples`` as a list of
    ``(offset, size)`` absolute byte ranges — the demux product. Raises
    ValueError on EVERY structural corruption (bad sizes, missing
    mandatory boxes, short tables, sample ranges outside the file) so
    callers quarantine uniformly — the same exception contract the r3
    ADVICE pinned on decode_jpeg."""
    try:
        return _parse_mp4(data)
    except (struct.error, IndexError, EOFError) as e:
        raise ValueError(f"corrupt or truncated MP4: {e!r}") from e


def _parse_mp4(data: bytes) -> dict:
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (no ftyp)")
    brand = data[8:12].decode("ascii", "replace")
    moov = _child(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    ms, me = moov
    mvhd = _child(data, ms, me, b"mvhd")
    if mvhd is None:
        raise ValueError("no mvhd box")
    ver = data[mvhd[0]]
    if ver == 1:
        mts = struct.unpack(">I", data[mvhd[0] + 20:mvhd[0] + 24])[0]
        mdur = struct.unpack(">Q", data[mvhd[0] + 24:mvhd[0] + 32])[0]
    else:
        mts, mdur = _u32s(data, mvhd[0] + 12, 2, mvhd[1])
    if mts == 0:
        raise ValueError("mvhd timescale 0")
    out = {"brand": brand, "timescale": mts,
           "duration_s": mdur / mts, "tracks": []}

    for btype, ts_, te in _walk(data, ms, me):
        if btype != b"trak":
            continue
        mdia = _child(data, ts_, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _child(data, mdia[0], mdia[1], b"hdlr")
        handler = (data[hdlr[0] + 8:hdlr[0] + 12].decode("ascii", "replace")
                   if hdlr else "?")
        mdhd = _child(data, mdia[0], mdia[1], b"mdhd")
        if mdhd is None:
            raise ValueError("track missing mdhd")
        if data[mdhd[0]] == 1:
            tts = struct.unpack(">I", data[mdhd[0] + 20:mdhd[0] + 24])[0]
            tdur = struct.unpack(">Q", data[mdhd[0] + 24:mdhd[0] + 32])[0]
        else:
            tts, tdur = _u32s(data, mdhd[0] + 12, 2, mdhd[1])
        if tts == 0:
            raise ValueError("mdhd timescale 0")
        minf = _child(data, mdia[0], mdia[1], b"minf")
        stbl = _child(data, minf[0], minf[1], b"stbl") if minf else None
        if stbl is None:
            raise ValueError("track missing stbl")
        sb, se = stbl

        stsd = _child(data, sb, se, b"stsd")
        if stsd is None or struct.unpack(
                ">I", data[stsd[0] + 4:stsd[0] + 8])[0] < 1:
            raise ValueError("empty stsd")
        entry = stsd[0] + 8
        codec = data[entry + 4:entry + 8].decode("ascii", "replace")
        w = h = None
        if handler == "vide":
            w, h = struct.unpack(">HH", data[entry + 32:entry + 36])

        stts = _child(data, sb, se, b"stts")
        if stts is None:
            raise ValueError("track missing stts")
        n_ent = struct.unpack(">I", data[stts[0] + 4:stts[0] + 8])[0]
        pairs = _u32s(data, stts[0] + 8, 2 * n_ent, stts[1])
        counts, deltas = pairs[0::2], pairs[1::2]
        n_samples = sum(counts)
        # Decode-bomb cap BEFORE any n_samples-sized allocation: the
        # stts counts are attacker/corruption-controlled 32-bit sums
        # and the uniform-stsz path below materializes a list of that
        # length (a 1.3 KB crafted file can demand ~34 GB). Every real
        # sample occupies >=1 byte of this file, so n_samples beyond
        # len(data) is structurally impossible -> quarantine (ADVICE
        # r4; same class as png_codec.MAX_PIXELS).
        if n_samples > len(data):
            raise ValueError(
                f"stts declares {n_samples} samples in a "
                f"{len(data)}-byte file")
        total_ticks = sum(c * d for c, d in zip(counts, deltas))
        fps = (tts * n_samples / total_ticks) if total_ticks else 0.0

        stsz = _child(data, sb, se, b"stsz")
        if stsz is None:
            raise ValueError("track missing stsz")
        uniform, n_sz = _u32s(data, stsz[0] + 4, 2, stsz[1])
        if n_sz != n_samples:
            raise ValueError(
                f"stsz count {n_sz} != stts count {n_samples}")
        sizes = ([uniform] * n_samples if uniform
                 else _u32s(data, stsz[0] + 12, n_samples, stsz[1]))

        co = _child(data, sb, se, b"stco")
        if co is not None:
            n_ch = struct.unpack(">I", data[co[0] + 4:co[0] + 8])[0]
            chunk_offs = _u32s(data, co[0] + 8, n_ch, co[1])
        else:
            co = _child(data, sb, se, b"co64")
            if co is None:
                raise ValueError("track missing stco/co64")
            n_ch = struct.unpack(">I", data[co[0] + 4:co[0] + 8])[0]
            if co[0] + 8 + 8 * n_ch > co[1]:
                raise ValueError("co64 table overruns its box")
            chunk_offs = list(struct.unpack(
                f">{n_ch}Q", data[co[0] + 8:co[0] + 8 + 8 * n_ch]))

        stsc = _child(data, sb, se, b"stsc")
        if stsc is None:
            raise ValueError("track missing stsc")
        n_sc = struct.unpack(">I", data[stsc[0] + 4:stsc[0] + 8])[0]
        sc = _u32s(data, stsc[0] + 8, 3 * n_sc, stsc[1])
        # expand sample-to-chunk runs: entry i applies from its
        # first_chunk until the next entry's first_chunk (1-based).
        # Each entry's first_chunk is validated in (prev_first, n_ch+1]
        # BEFORE expansion — `last` is a raw 32-bit field, so a 2-entry
        # stsc whose second first_chunk is ~4e9 would otherwise
        # allocate billions of list slots before the post-hoc coverage
        # check could fire (ADVICE r4); this also rejects
        # non-increasing runs explicitly.
        per_chunk = []
        prev_first = 0
        for i in range(n_sc):
            first = sc[3 * i]
            spc = sc[3 * i + 1]
            if not prev_first < first <= n_ch + 1:
                raise ValueError(
                    f"stsc first_chunk {first} not in "
                    f"({prev_first}, {n_ch + 1}]")
            prev_first = first
            last = sc[3 * (i + 1)] if i + 1 < n_sc else n_ch + 1
            if not first < last <= n_ch + 1:
                raise ValueError(
                    f"stsc run [{first}, {last}) out of order or past "
                    f"chunk count {n_ch}")
            per_chunk.extend([spc] * (last - first))
        if len(per_chunk) != n_ch:
            raise ValueError("stsc does not cover every chunk")

        samples = []
        si = 0
        for ci, coff in enumerate(chunk_offs):
            pos = coff
            for _ in range(per_chunk[ci]):
                if si >= n_samples:
                    raise ValueError("stsc claims more samples than stsz")
                sz = sizes[si]
                if pos + sz > len(data):
                    raise ValueError("sample range outside file")
                samples.append((pos, sz))
                pos += sz
                si += 1
        if si != n_samples:
            raise ValueError(
                f"chunk map resolves {si} samples, stsz says {n_samples}")

        out["tracks"].append({
            "handler": handler, "codec": codec, "w": w, "h": h,
            "timescale": tts, "duration_s": tdur / tts,
            "n_samples": n_samples, "fps": round(fps, 6),
            "samples": samples,
            "media_bytes": sum(sizes),
        })
    if not out["tracks"]:
        raise ValueError("no parseable tracks")
    return out


def decode_mp4(data: bytes) -> tuple[float, np.ndarray]:
    """MP4 bytes -> (fps, (n, h, w) uint8 luma frames).

    Real decode for Motion-JPEG tracks (every sample through
    :func:`.jpeg.decode_jpeg`; RGB samples reduce to BT.601 luma to
    match the Y4M path's luma contract). Compressed codecs raise
    ValueError -> quarantine."""
    meta = parse_mp4(data)
    vids = [t for t in meta["tracks"] if t["handler"] == "vide"]
    if not vids:
        raise ValueError("no video track")
    trk = vids[0]
    if trk["codec"] not in _JPEG_CODECS:
        raise ValueError(
            f"codec {trk['codec']!r} requires an external decoder not "
            "present in this environment (demux/probe still work: "
            "parse_mp4 / mp4_probe)")
    if trk["fps"] <= 0:
        raise ValueError(f"non-positive frame rate {trk['fps']}")
    frames = []
    for off, sz in trk["samples"]:
        px = decode_jpeg(bytes(data[off:off + sz]))
        if px.ndim == 3:
            px = np.clip(np.round(px @ _LUMA), 0, 255).astype(np.uint8)
        frames.append(px)
    shapes = {f.shape for f in frames}
    if len(shapes) != 1:
        raise ValueError(f"inconsistent frame shapes {sorted(shapes)}")
    return trk["fps"], np.stack(frames)


PROBE_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("brand", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("fps", T.DoubleType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("bitrate_kbps", T.DoubleType()),
    T.StructField("decodable", T.BooleanType()),
])


def mp4_probe(videos: DataFrame) -> DataFrame:
    """Container probe over a binary MP4 column — codec-independent.

    Emits per-file codec/dims/fps/duration/bitrate from the demux
    alone, plus ``decodable`` = whether THIS engine can also produce
    pixels (MJPEG tracks). The 100-TB ingest routing operator: corrupt
    containers quarantine as ok=false, avc1/hev1 land decodable=false
    and route to an external transcode pool, MJPEG routes straight into
    :func:`.video.video_stats`. A per-row kernel of
    :func:`.rows.map_bytes`, like ``images.decode_stats``."""

    def kernel(vid, data):
        meta = parse_mp4(data)
        vt = next((t for t in meta["tracks"] if t["handler"] == "vide"),
                  meta["tracks"][0])
        dur = vt["duration_s"]
        kbps = vt["media_bytes"] * 8 / dur / 1000.0 if dur > 0 else None
        return [(vid, True, meta["brand"], vt["codec"], vt["w"], vt["h"],
                 vt["n_samples"], vt["fps"], round(dur, 6),
                 # `is not None`: a measured ZERO bitrate (all-empty
                 # samples) is a value, not the duration<=0 case
                 round(kbps, 3) if kbps is not None else None,
                 vt["codec"] in _JPEG_CODECS)]

    return map_bytes(videos, "video_id", PROBE_SCHEMA, kernel)
