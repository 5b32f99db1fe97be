"""Deterministic mutation fuzz over the media parsers' quarantine
contract: every mutated/truncated input must either decode or raise
ValueError — no KeyError/struct.error/ZeroDivisionError/zlib.error
escapes (the documented contract), and no header-driven decode bomb
(a corrupt 2-byte SOF dimension used to demand a ~34 GB coefficient
buffer before any entropy check could fail; review r4)."""

import numpy as np
import pytest

from loc2vec_spark.operators import bmp as B
from loc2vec_spark.operators import gif as G
from loc2vec_spark.operators import ico as I
from loc2vec_spark.operators import jpeg as J
from loc2vec_spark.operators import mp4 as M
from loc2vec_spark.operators import tiff as TF
from loc2vec_spark.operators import video as V
from loc2vec_spark.png_codec import decode_png, encode_png

N_MUT = 150


def _gray(h=24, w=32, seed=3):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = ((xx * 7 + yy * 3) % 256).astype(np.int16)
    return np.clip(base + rng.integers(-4, 5, base.shape),
                   0, 255).astype(np.uint8)


def _rgb(h=24, w=32, seed=4):
    return np.stack([_gray(h, w, seed + i) for i in range(3)], axis=-1)


def _mutations(data: bytes, seed: int):
    """N_MUT seeded 1-3-byte flips + N_MUT//4 truncations."""
    rng = np.random.default_rng(seed)
    b = np.frombuffer(data, dtype=np.uint8)
    for _ in range(N_MUT):
        m = b.copy()
        idx = rng.integers(0, len(m), int(rng.integers(1, 4)))
        m[idx] = rng.integers(0, 256, len(idx))
        yield m.tobytes()
    for _ in range(N_MUT // 4):
        yield data[: int(rng.integers(0, len(data)))]


def _assert_contract(fn, data: bytes, seed: int):
    for i, blob in enumerate(_mutations(data, seed)):
        try:
            fn(blob)
        except ValueError:
            pass  # the one documented quarantine signal
        # any OTHER exception type propagates and fails the test,
        # naming the mutation index via pytest's traceback


@pytest.mark.parametrize("seed,make", [
    (11, lambda: J.encode_jpeg(_gray(), quality=85)),
    (12, lambda: J.encode_jpeg(_rgb(), quality=85, subsample=True)),
    (13, lambda: J.encode_jpeg(_gray(), quality=85, progressive=True)),
    (14, lambda: J.encode_jpeg(_rgb(), quality=85, progressive=True)),
])
def test_jpeg_fuzz_contract(seed, make):
    _assert_contract(J.decode_jpeg, make(), seed)


@pytest.mark.parametrize("seed,make", [
    (21, lambda: encode_png(_gray())),
    (22, lambda: encode_png(_rgb())),
])
def test_png_fuzz_contract(seed, make):
    _assert_contract(decode_png, make(), seed)


def test_mp4_fuzz_contract():
    data = M.encode_mjpeg_mp4(np.stack([_gray(), _gray(seed=9)]), fps=8)
    _assert_contract(M.parse_mp4, data, 31)
    _assert_contract(M.decode_mp4, data, 32)


def test_wav_fuzz_contract():
    import struct

    from loc2vec_spark.operators.audio import decode_wav, encode_wav
    pcm = encode_wav((np.sin(np.arange(2000) / 8.0)
                      * 20000).astype(np.int16), rate=8000)
    _assert_contract(decode_wav, pcm, 55)
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    g711 = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + 256)
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 256) + bytes(range(256)))
    _assert_contract(decode_wav, g711, 56)


def test_y4m_fuzz_contract():
    data = V.encode_y4m(np.stack([_gray(16, 16), _gray(16, 16, 8)]),
                        fps=10)
    _assert_contract(V.decode_y4m, data, 51)


def test_jpeg_decode_cap_refuses_fast():
    """A mutated SOF claiming 65535x65535 must raise BEFORE allocating
    coefficient buffers (34 GB at 8 B/coef), not OOM the executor."""
    data = bytearray(J.encode_jpeg(_gray(), quality=85))
    i = data.index(b"\xff\xc0")
    data[i + 5:i + 9] = (65535).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="decode cap"):
        J.decode_jpeg(bytes(data))
    # zero sampling factors used to ZeroDivisionError out of contract
    data = bytearray(J.encode_jpeg(_gray(), quality=85))
    data[i + 11] = 0x00
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(data))


def test_png_truncated_trailer_quarantines():
    """A complete deflate stream with the 4-byte adler32 trailer cut
    (partially-written file) must quarantine: the max_length-capped
    decompressobj returns every byte with eof=False and no error, where
    one-shot zlib.decompress used to raise (review r4 regression)."""
    import struct
    import zlib
    data = encode_png(_gray())
    i = data.index(b"IDAT")
    (length,) = struct.unpack(">I", data[i - 4:i])
    payload = data[i + 4:i + 4 + length]
    cut = payload[:-4]  # drop adler32

    def chunk(tag, p):
        return (struct.pack(">I", len(p)) + tag + p
                + struct.pack(">I", zlib.crc32(tag + p) & 0xFFFFFFFF))

    mangled = (data[:i - 4] + chunk(b"IDAT", cut)
               + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="trailer|truncated"):
        decode_png(mangled)


def test_png_decode_cap_and_bomb_refused():
    import struct
    import zlib
    data = bytearray(encode_png(_gray()))
    i = data.index(b"IHDR")
    data[i + 4:i + 12] = struct.pack(">II", 1 << 16, 1 << 16)
    with pytest.raises(ValueError, match="decode cap"):
        decode_png(bytes(data))
    # a stream inflating past the header's promise is corrupt, not
    # silently truncated: hand-build a tiny PNG whose IDAT holds 10x
    # the promised bytes
    h = w = 4
    good_rows = b"".join(b"\x00" + bytes(w) for _ in range(h))
    from loc2vec_spark import png_codec as P
    sig = bytes(data[:8])
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    bomb = zlib.compress(good_rows * 10)

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)
                              & 0xFFFFFFFF))

    png = (sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb)
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="inflates"):
        P.decode_png(png)

@pytest.mark.parametrize("seed,make", [
    (71, lambda: G.encode_gif(_rgb() // 32 * 32)),        # <=256 colors
    (72, lambda: G.encode_gif(_gray() // 16 * 16, interlace=True)),
    (73, lambda: G.encode_gif(
        np.stack([_gray(16, 16) // 16 * 16,
                  _gray(16, 16, 8) // 16 * 16]), delay_cs=4)),
])
def test_gif_fuzz_contract(seed, make):
    _assert_contract(G.decode_gif, make(), seed)
    _assert_contract(lambda b: G.gif_frames(b), make(), seed + 100)


@pytest.mark.parametrize("seed,make", [
    (81, lambda: B.encode_bmp(_rgb())),
    (82, lambda: B.encode_bmp(_gray())),
])
def test_bmp_fuzz_contract(seed, make):
    _assert_contract(B.decode_bmp, make(), seed)


@pytest.mark.parametrize("seed,make", [
    (95, lambda: I.encode_ico([_rgb(16, 16)])),
    (96, lambda: I.encode_ico([_rgb(16, 16)], as_png=True)),
])
def test_ico_fuzz_contract(seed, make):
    _assert_contract(I.decode_ico, make(), seed)


@pytest.mark.parametrize("seed,make", [
    (91, lambda: TF.encode_tiff(_rgb())),
    (92, lambda: TF.encode_tiff(_gray(), packbits=True,
                                rows_per_strip=7)),
])
def test_tiff_fuzz_contract(seed, make):
    _assert_contract(TF.decode_tiff, make(), seed)
