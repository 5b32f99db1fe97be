"""MP3 (MPEG audio) container operators (multimodal surface, task brief).

Same supported/unsupported line as :mod:`.mp4`, drawn inside the
format: **frame-level parsing is real** — MPEG audio files are a
self-describing sequence of frames whose 4-byte headers (ISO/IEC
11172-3 / 13818-3) carry version, layer, bitrate, sample rate and
channel mode, so walking them yields exact frame counts, duration,
CBR/VBR classification and average bitrate with no codec involved
(including ID3v2 skip and the Xing/Info VBR header). **Sample decode
stays an honest stub**: Layer-III synthesis (Huffman + IMDCT +
polyphase filterbank) needs a real codec; :func:`decode_mp3_samples`
raises ValueError so callers quarantine, and ``audio.audio_stats``
already quarantines MP3 bytes (wave rejects them) rather than
mis-reading them.

This is the audio half of the 100-TB ingest-routing story:
:func:`mp3_probe` validates/characterizes compressed audio (route by
codec/bitrate/duration, drop corrupt files at the container boundary)
while PCM WAV flows the fully-executable path in :mod:`.audio`.

Reference analog: torchvision/av-style transparent media ingestion in
/root/reference/src/loc2vec/data_loading.py:124; here the boundary is
explicit and tested.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, types as T

from .rows import map_bytes

# bitrate tables, kbps; row = (version-group, layer); index 0 is
# "free format" (unsupported -> invalid), index 15 is forbidden
_BITRATES = {
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352,
             384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
             320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192,
             224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
}

_RATES = {1: [44100, 48000, 32000],        # MPEG-1
          2: [22050, 24000, 16000],        # MPEG-2
          25: [11025, 12000, 8000]}        # MPEG-2.5


def _parse_header(h: int) -> dict:
    """4-byte MPEG audio frame header (as int) -> fields, or raise."""
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ValueError("lost frame sync")
    vbits = (h >> 19) & 3
    version = {0: 25, 2: 2, 3: 1}.get(vbits)
    if version is None:
        raise ValueError("reserved MPEG version")
    layer = 4 - ((h >> 17) & 3)
    if layer == 4:
        raise ValueError("reserved layer")
    bidx = (h >> 12) & 0xF
    if bidx in (0, 15):
        raise ValueError(f"unsupported bitrate index {bidx}")
    ridx = (h >> 10) & 3
    if ridx == 3:
        raise ValueError("reserved sample-rate index")
    vgroup = 1 if version == 1 else 2
    bitrate = _BITRATES[(vgroup, layer)][bidx] * 1000
    rate = _RATES[version][ridx]
    padding = (h >> 9) & 1
    mode = (h >> 6) & 3
    if layer == 1:
        flen = (12 * bitrate // rate + padding) * 4
        spf = 384
    else:
        coef = 72 if (layer == 3 and version != 1) else 144
        flen = coef * bitrate // rate + padding
        spf = 576 if (layer == 3 and version != 1) else 1152
    return {"version": version, "layer": layer, "bitrate": bitrate,
            "rate": rate, "channels": 1 if mode == 3 else 2,
            "frame_len": flen, "samples_per_frame": spf,
            "crc": not ((h >> 16) & 1)}


def _skip_id3v2(data: bytes) -> int:
    """Return the offset past a leading ID3v2 tag (0 if none)."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    if any(b & 0x80 for b in data[6:10]):
        raise ValueError("corrupt ID3v2 size (non-syncsafe)")
    size = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    footer = 10 if data[5] & 0x10 else 0
    return 10 + size + footer


def parse_mp3(data: bytes) -> dict:
    """MPEG audio bytes -> stream metadata from a full frame walk.

    Walks every frame header (exact, not estimated), skips a leading
    ID3v2 tag and a trailing 128-byte ID3v1 tag, and reads a Xing/Info
    VBR header when present (its declared frame count is cross-checked
    against the walk). Raises ValueError on desync / truncation /
    free-format streams so callers quarantine uniformly."""
    try:
        return _parse_mp3(data)
    except (struct.error, IndexError, EOFError) as e:
        raise ValueError(f"corrupt or truncated MP3: {e!r}") from e


def _parse_mp3(data: bytes) -> dict:
    pos = _skip_id3v2(data)
    end = len(data)
    if end - pos >= 128 and data[end - 128:end - 125] == b"TAG":
        end -= 128  # ID3v1
    if end - pos < 4:
        raise ValueError("no audio frames")

    first = _parse_header(struct.unpack(">I", data[pos:pos + 4])[0])
    # Xing/Info VBR header sits after the Layer-III side info of the
    # first frame; offset from the 4-byte header per spec
    xing_frames = None
    vbr_tagged = False
    if first["layer"] == 3:
        off = pos + 4 + (2 if first["crc"] else 0)
        off += ((17 if first["channels"] == 1 else 32)
                if first["version"] == 1
                else (9 if first["channels"] == 1 else 17))
        tag = data[off:off + 4]
        if tag in (b"Xing", b"Info"):
            vbr_tagged = tag == b"Xing"
            flags = struct.unpack(">I", data[off + 4:off + 8])[0]
            if flags & 1:
                xing_frames = struct.unpack(
                    ">I", data[off + 8:off + 12])[0]

    n_frames = 0
    bitrates = set()
    total_bytes = 0
    first_len = None
    while pos < end:
        if end - pos < 4:
            raise ValueError("trailing garbage after last frame")
        hdr = _parse_header(struct.unpack(">I", data[pos:pos + 4])[0])
        if (hdr["version"] != first["version"]
                or hdr["layer"] != first["layer"]
                or hdr["rate"] != first["rate"]):
            raise ValueError("version/layer/rate changed mid-stream")
        if pos + hdr["frame_len"] > end:
            raise ValueError("truncated final frame")
        bitrates.add(hdr["bitrate"])
        total_bytes += hdr["frame_len"]
        if first_len is None:
            first_len = hdr["frame_len"]
        pos += hdr["frame_len"]
        n_frames += 1
    # the walk is ground truth; a Xing count excludes the tag frame
    # itself, so a tagged CBR/VBR file walks to xing_frames + 1
    if xing_frames is not None and n_frames not in (xing_frames,
                                                    xing_frames + 1):
        raise ValueError(
            f"Xing frame count {xing_frames} != walked {n_frames}")

    music_frames = n_frames - (1 if xing_frames is not None else 0)
    duration = music_frames * first["samples_per_frame"] / first["rate"]
    # mean bitrate over MUSIC frames only: when a Xing/Info tag frame
    # is present its bytes must leave the numerator alongside the
    # duration it already leaves, or every short tagged clip overstates
    # bitrate by n/(n-1) (review r4: 145.95 vs true 128 at n=8)
    music_bytes = total_bytes - (first_len
                                 if xing_frames is not None else 0)
    return {"version": first["version"], "layer": first["layer"],
            "rate": first["rate"], "channels": first["channels"],
            "n_frames": n_frames, "duration_s": duration,
            "vbr": vbr_tagged or len(bitrates) > 1,
            "bitrate_kbps": round(music_bytes * 8 / duration / 1000.0, 3)
            if duration > 0 else None}


def decode_mp3_samples(data: bytes):
    """Honest stub: Layer-III sample synthesis needs a codec library
    this environment lacks. Metadata does NOT (see :func:`parse_mp3`).
    """
    raise ValueError(
        "MP3 sample decode requires an external codec; container "
        "metadata parses without one (parse_mp3 / mp3_probe)")


PROBE_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("mpeg_version", T.IntegerType()),
    T.StructField("layer", T.IntegerType()),
    T.StructField("rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("bitrate_kbps", T.DoubleType()),
    T.StructField("vbr", T.BooleanType()),
])


def mp3_probe(audio: DataFrame) -> DataFrame:
    """Frame-walk probe over a binary MPEG-audio column.

    The compressed-audio counterpart of ``mp4.mp4_probe``: exact frame
    count / duration / mean bitrate / CBR-VBR verdict per file, corrupt
    or free-format streams quarantine as ok=false. One Arrow crossing:
    a per-row kernel of :func:`.rows.map_bytes`."""

    def kernel(aid, data):
        m = parse_mp3(data)
        return [(aid, True, m["version"], m["layer"], m["rate"],
                 m["channels"], m["n_frames"], round(m["duration_s"], 6),
                 m["bitrate_kbps"], m["vbr"])]

    return map_bytes(audio, "audio_id", PROBE_SCHEMA, kernel)


def synth_mp3_bytes(n_frames: int = 8, *, bitrate_kbps: int = 128,
                    rate: int = 44100, version: int = 1,
                    channels: int = 2, layer: int = 3,
                    id3v2: bool = False, xing: bool = False,
                    vbr_pattern: tuple[int, ...] | None = None) -> bytes:
    """Deterministic MPEG-audio fixture: valid frame headers + zeroed
    payloads (the probe never reads samples, so zero payload is a
    complete container-level fixture — same fixture philosophy as the
    ``avc1`` branch of ``mp4.encode_mjpeg_mp4``)."""
    vgroup = 1 if version == 1 else 2
    vbits = {1: 3, 2: 2, 25: 0}[version]

    def frame(kbps: int) -> bytes:
        bidx = _BITRATES[(vgroup, layer)].index(kbps)
        ridx = _RATES[version].index(rate)
        h = (0x7FF << 21) | (vbits << 19) | ((4 - layer) << 17) \
            | (1 << 16) | (bidx << 12) | (ridx << 10) \
            | ((3 if channels == 1 else 0) << 6)
        hdr = struct.pack(">I", h)
        flen = _parse_header(h)["frame_len"]
        return hdr + b"\x00" * (flen - 4)

    rates_seq = list(vbr_pattern or [bitrate_kbps] * n_frames)
    frames = [frame(k) for k in rates_seq]
    if xing:
        f0 = bytearray(frames[0])
        off = 4 + ((17 if channels == 1 else 32) if version == 1
                   else (9 if channels == 1 else 17))
        blob = b"Xing" + struct.pack(">II", 1, len(frames) - 1)
        f0[off:off + len(blob)] = blob
        frames[0] = bytes(f0)
    out = b"".join(frames)
    if id3v2:
        body = b"\x00" * 30
        out = (b"ID3\x04\x00\x00"
               + bytes([(len(body) >> 21) & 0x7F,
                        (len(body) >> 14) & 0x7F,
                        (len(body) >> 7) & 0x7F,
                        len(body) & 0x7F]) + body) + out
    return out
