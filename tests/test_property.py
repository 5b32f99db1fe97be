"""Property-based tests (hypothesis) for the pure-numpy kernels.

These cover the engine's self-written codecs and cell math with
generated inputs rather than fixed fixtures — the invariants that must
hold for ANY input: lossless round-trips and containment/idempotence
of the cell hierarchy. No SparkSession here; every property is a
driver-side kernel, so hypothesis can run hundreds of cases in seconds.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from loc2vec_spark import cells
from loc2vec_spark.operators.audio import decode_wav, encode_wav
from loc2vec_spark.operators.video import decode_y4m, encode_y4m
from loc2vec_spark.png_codec import decode_png, encode_png

# hypothesis and numpy arrays: generate shape + seed, build with numpy
# (st.arrays via hypothesis.extra.numpy would also work; seed-based
# construction keeps examples tiny in the failure database)


def _arr(seed: int, shape: tuple[int, ...], dtype=np.uint8) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, shape).astype(dtype)


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 40), st.integers(1, 40),
       st.booleans())
def test_png_roundtrip(seed, h, w, rgb):
    arr = _arr(seed, (h, w, 3) if rgb else (h, w))
    assert np.array_equal(decode_png(encode_png(arr)), arr)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 3000),
       st.sampled_from([8000, 16000, 44100]))
def test_wav_roundtrip(seed, n, rate):
    rng = np.random.default_rng(seed)
    x = rng.integers(-32768, 32768, n).astype(np.int16)
    got_rate, back = decode_wav(encode_wav(x, rate=rate))
    assert got_rate == rate
    assert np.array_equal((back * 32768.0).astype(np.int16), x)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 6),
       st.integers(1, 12), st.integers(1, 12))
def test_y4m_roundtrip(seed, n, h2, w2):
    fr = _arr(seed, (n, 2 * h2, 2 * w2))  # C420 needs even dims
    fps, back = decode_y4m(encode_y4m(fr, fps=10))
    assert fps == 10.0
    assert np.array_equal(back, fr)


_lat = st.floats(-84.9, 84.9)  # engine clamps near poles; stay inside
_lon = st.floats(-179.9, 179.9)


@settings(max_examples=100, deadline=None)
@given(_lat, _lon, st.integers(1, 20))
def test_cell_center_refixes(lat, lon, res):
    """A cell's center maps back to the same cell (idempotence)."""
    c = int(np.atleast_1d(cells.latlon_to_cell(lat, lon, res))[0])
    clat, clon = cells.cell_center(np.array([c]))
    c2 = int(np.atleast_1d(cells.latlon_to_cell(
        float(clat[0]), float(clon[0]), res))[0])
    assert c == c2


@settings(max_examples=100, deadline=None)
@given(_lat, _lon, st.integers(2, 20))
def test_parent_contains_child(lat, lon, res):
    """parent(cell(p, res)) == cell(p, res-1): hierarchy is nested."""
    child = np.atleast_1d(cells.latlon_to_cell(lat, lon, res))
    direct = np.atleast_1d(cells.latlon_to_cell(lat, lon, res - 1))
    assert int(np.atleast_1d(
        cells.cell_to_parent(child, res - 1))[0]) == int(direct[0])


@settings(max_examples=60, deadline=None)
@given(_lat, _lon, st.integers(1, 18), st.integers(1, 2))
def test_kring_contains_self_and_is_unique(lat, lon, res, k):
    c = int(np.atleast_1d(cells.latlon_to_cell(lat, lon, res))[0])
    ring = cells.kring(c, k)
    assert c in ring
    assert len(ring) == len(set(ring))
    assert len(ring) <= (2 * k + 1) ** 2


# --- round-2 kernels: morton interleave + average-hash -------------------

def _morton_ref(i: int, j: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((i >> b) & 1) << (2 * b + 1)
        z |= ((j >> b) & 1) << (2 * b)
    return z


@settings(max_examples=80, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255))
def test_morton_sql_matches_reference(i, j):
    """The arithmetic bit-spread (shared SQL text) equals true bit
    interleave — evaluated in python on the same formula the SQL uses."""
    from loc2vec_spark.functions import morton_sql
    import re
    expr = morton_sql("I", "J", 8)
    # the expression uses only FLOOR-div, %, * and + — evaluate it
    py = re.sub(r"CAST\(FLOOR\(\((\w)\) / (\d+)\.0E0\) AS BIGINT\)",
                lambda m: f"(({m.group(1)}) // {m.group(2)})", expr)
    assert eval(py, {"I": i, "J": j}) == _morton_ref(i, j, 8)


@settings(max_examples=80, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255))
def test_morton_locality_parent_prefix(i, j):
    """Halving resolution = dropping the two low bits: the Morton code
    of the parent cell is the child's code >> 2 — the property that
    makes one z-sorted layout serve every coarser cell resolution."""
    assert _morton_ref(i, j, 8) >> 2 == _morton_ref(i >> 1, j >> 1, 7)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(8, 48), st.integers(8, 48),
       st.booleans())
def test_ahash_properties(seed, h, w, rgb):
    """64-bit output domain, exact invariance to a global brightness
    shift that preserves block ordering (+content determinism)."""
    from loc2vec_spark.operators.images import _ahash64
    arr = _arr(seed, (h, w, 3) if rgb else (h, w)).astype(np.int64)
    hsh = _ahash64(arr.astype(np.uint8))
    assert 0 <= hsh < (1 << 64)
    assert hsh == _ahash64(arr.astype(np.uint8))  # deterministic
    # affine brightness scale preserves every block comparison
    assert _ahash64((arr * 2).astype(np.int64)) == hsh


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 10_000), nv=st.integers(3, 12),
       res=st.integers(4, 10))
def test_cover_cells_superset_property(seed, nv, res):
    """For ANY simple star polygon: (a) every point inside the polygon
    has its cell in the cover, (b) full cells contain only inside
    points, (c) cover cell ids are unique."""
    from loc2vec_spark.operators.pip import cover_cells_one
    rng = np.random.default_rng(seed)
    cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = rng.uniform(0.2, 3.0, nv)
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)],
                    axis=1)
    cover_cells, full = cover_cells_one(ring, res, max_cells=100_000)
    assert len(set(cover_cells.tolist())) == len(cover_cells)
    cover = set(cover_cells.tolist())
    full_set = set(cover_cells[full].tolist())

    px = rng.uniform(ring[:, 0].min(), ring[:, 0].max(), 120)
    py = rng.uniform(ring[:, 1].min(), ring[:, 1].max(), 120)
    # numpy even-odd raycast (same accept rule as the engine)
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    crosses = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = ((x2 - x1)[None, :] * (py[:, None] - y1[None, :])
                / (y2 - y1)[None, :] + x1[None, :])
    inside = ((crosses & (px[:, None] < xint)).sum(axis=1) % 2
              ).astype(bool)
    pc = cells.latlon_to_cell(py, px, res)
    for k in range(len(px)):
        if inside[k]:
            assert int(pc[k]) in cover
        if int(pc[k]) in full_set:
            assert inside[k]
