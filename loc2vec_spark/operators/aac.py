"""ADTS/AAC container operators (multimodal surface, task brief).

The third of the compressed-codec metadata trio (:mod:`.mp4` demux,
:mod:`.mp3` frame walk): ADTS streams — the raw AAC framing used by
web audio, HLS segments and broadcast — are a self-describing sequence
of 7/9-byte headers (ISO/IEC 13818-7 §6.2) carrying profile, sampling
rate, channel configuration and exact frame byte length, so a full
frame walk yields frame counts, duration and mean bitrate with no
codec involved. AAC SAMPLE synthesis (the filterbank) stays the honest
ValueError stub, exactly like MP3's.

Reference analog: transparent media ingestion in
/root/reference/src/loc2vec/data_loading.py:124; here the
supported/unsupported boundary is explicit and tested.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, types as T

from .rows import map_bytes

# ISO/IEC 14496-3 sampling_frequency_index table (13818-7 shares it)
_RATES = [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
          16000, 12000, 11025, 8000, 7350]

_PROFILES = {0: "Main", 1: "LC", 2: "SSR", 3: "LTP"}

_SAMPLES_PER_BLOCK = 1024


def _parse_adts_header(b: bytes) -> dict:
    """First 7 bytes of an ADTS frame -> fields, or raise ValueError."""
    if len(b) < 7:
        raise ValueError("truncated ADTS header")
    if b[0] != 0xFF or (b[1] & 0xF6) != 0xF0:
        # syncword 0xFFF + layer bits 00 (b[1]: 1111 x 00 x)
        raise ValueError("lost ADTS frame sync")
    mpeg2 = (b[1] >> 3) & 1
    crc = not (b[1] & 1)                     # protection_absent == 0
    profile = (b[2] >> 6) & 3
    ridx = (b[2] >> 2) & 0xF
    if ridx >= len(_RATES):
        raise ValueError(f"reserved sampling-frequency index {ridx}")
    chan_cfg = ((b[2] & 1) << 2) | ((b[3] >> 6) & 3)
    if chan_cfg == 0:
        # channel config 0 (PCE-defined) needs the raw payload parsed —
        # codec territory; refuse rather than report a wrong count
        raise ValueError("PCE-defined channel configuration unsupported")
    # 13818-7 table: configs 1-6 are 1:1 channel counts; config 7 is
    # the 7.1 layout = EIGHT channels (review r4)
    channels = 8 if chan_cfg == 7 else chan_cfg
    flen = ((b[3] & 0x03) << 11) | (b[4] << 3) | ((b[5] >> 5) & 0x07)
    if flen < (9 if crc else 7):
        raise ValueError(f"ADTS frame length {flen} shorter than header")
    blocks = (b[6] & 3) + 1                  # raw_data_blocks + 1
    return {"mpeg2": bool(mpeg2), "crc": crc,
            "profile": _PROFILES[profile], "rate": _RATES[ridx],
            "channels": channels, "frame_len": flen, "blocks": blocks}


def parse_adts(data: bytes) -> dict:
    """ADTS bytes -> stream metadata from a full frame walk (exact
    frame/sample counts, duration, mean bitrate). ValueError on
    desync/truncation, the uniform quarantine contract."""
    try:
        return _parse_adts(data)
    except (struct.error, IndexError, EOFError) as e:
        raise ValueError(f"corrupt or truncated ADTS: {e!r}") from e


def _parse_adts(data: bytes) -> dict:
    # HLS elementary-audio segments routinely lead with an ID3v2 tag
    # (timed-metadata PRIV frame) and files may carry ID3 tags like
    # MP3s do — skip both, exactly as the sibling walker does
    # (review r4)
    from .mp3 import _skip_id3v2
    pos = _skip_id3v2(data)
    end = len(data)
    if end - pos >= 128 and data[end - 128:end - 125] == b"TAG":
        end -= 128  # ID3v1
    if end - pos < 7:
        raise ValueError("no ADTS frames")
    first = None
    n_frames = 0
    n_blocks = 0
    total_bytes = 0
    while pos < end:
        if end - pos < 7:
            raise ValueError("trailing garbage after last frame")
        hdr = _parse_adts_header(data[pos:pos + 9])
        if first is None:
            first = hdr
        elif (hdr["rate"] != first["rate"]
                or hdr["channels"] != first["channels"]
                or hdr["profile"] != first["profile"]
                or hdr["mpeg2"] != first["mpeg2"]):
            # same strictness as mp3's version/layer/rate pin: a
            # spliced/corrupt stream must quarantine, not report the
            # first frame's fields as the stream's (review r4)
            raise ValueError(
                "rate/channels/profile changed mid-stream")
        if pos + hdr["frame_len"] > end:
            raise ValueError("truncated final frame")
        n_frames += 1
        n_blocks += hdr["blocks"]
        total_bytes += hdr["frame_len"]
        pos += hdr["frame_len"]
    duration = n_blocks * _SAMPLES_PER_BLOCK / first["rate"]
    return {"profile": first["profile"], "rate": first["rate"],
            "channels": first["channels"], "mpeg2": first["mpeg2"],
            "n_frames": n_frames, "duration_s": duration,
            "bitrate_kbps": round(total_bytes * 8 / duration / 1000.0, 3)
            if duration > 0 else None}


def decode_aac_samples(data: bytes):
    """Honest stub: AAC filterbank synthesis needs a codec library this
    environment lacks. Metadata does NOT (see :func:`parse_adts`)."""
    raise ValueError(
        "AAC sample decode requires an external codec; container "
        "metadata parses without one (parse_adts / aac_probe)")


PROBE_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("profile", T.StringType()),
    T.StructField("rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("bitrate_kbps", T.DoubleType()),
])


def aac_probe(audio: DataFrame) -> DataFrame:
    """Frame-walk probe over a binary ADTS column — the AAC counterpart
    of ``mp3.mp3_probe``, same per-row kernel of
    :func:`.rows.map_bytes`, corrupt streams quarantine as ok=false."""

    def kernel(aid, data):
        m = parse_adts(data)
        return [(aid, True, m["profile"], m["rate"], m["channels"],
                 m["n_frames"], round(m["duration_s"], 6),
                 m["bitrate_kbps"])]

    return map_bytes(audio, "audio_id", PROBE_SCHEMA, kernel)


def synth_adts_bytes(n_frames: int = 8, *, rate: int = 44100,
                     channels: int = 2, profile: int = 1,
                     payload_len: int = 200, crc: bool = False,
                     blocks: int = 1) -> bytes:
    """Deterministic ADTS fixture: valid headers + zeroed payloads
    (the probe never reads samples — same fixture philosophy as
    ``mp3.synth_mp3_bytes``)."""
    ridx = _RATES.index(rate)
    hdr_len = 9 if crc else 7
    flen = hdr_len + payload_len
    frames = []
    for _ in range(n_frames):
        b = bytearray(hdr_len)
        b[0] = 0xFF
        b[1] = 0xF0 | ((0 & 1) << 3) | (0 << 1) | (0 if crc else 1)
        b[2] = (profile << 6) | (ridx << 2) | ((channels >> 2) & 1)
        b[3] = ((channels & 3) << 6) | ((flen >> 11) & 0x03)
        b[4] = (flen >> 3) & 0xFF
        b[5] = ((flen & 0x07) << 5) | 0x1F
        b[6] = 0xFC | ((blocks - 1) & 3)
        frames.append(bytes(b) + b"\x00" * payload_len)
    return b"".join(frames)
