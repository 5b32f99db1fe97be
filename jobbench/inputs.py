"""Seeded ``images`` tables for the job benchmark.

Rows come from the fixture row functions in :mod:`loc2vec_spark.fixtures`
(location, caption, phash, pixels), evaluated at a seed-dependent row
index, so one seed always yields the same table and different seeds yield
different rows with the same mix:

- 80% urban-disk rows and 20% global rows (the fixtures' skew source);
- one row in 10 is quantized PNG, one in 20 is re-encoded as baseline
  JPEG (``operators.jpeg.encode_jpeg``), the rest plain PNG, so a change
  to either codec moves the image stage;
- one row in 200 carries truncated bytes, which the image stage must
  quarantine;
- one row in 250 has a caption without coordinates, which the tiling job
  must quarantine as a NULL cell.

Each table is written to a temporary directory and renamed into place,
and is cached by (seed, rows) so a repeated seed skips generation.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from loc2vec_spark import cells, fixtures
from loc2vec_spark.operators.jpeg import encode_jpeg
from loc2vec_spark.png_codec import encode_png, encode_pngq

# Row-index stride between seeds. A multiple of 30 keeps every modular
# row class (urban centre i % 3, urban/global i % 5, format i % 10 and
# i % 20) identical across seeds; the largest index stays far below the
# point where the engine's id hash (id * 2654435761) overflows a BIGINT.
SEED_STRIDE = 30_000
SEED_MOD = 10_000
N_SHARDS = 4
# run_mining's defaults: kNN blocking resolution and neighbours per anchor
MINING_RES, MINING_K = 9, 5
_MASK20 = (1 << 20) - 1

JPEG_EVERY, JPEG_PHASE = 20, 5
CORRUPT_EVERY, CORRUPT_PHASE = 200, 199
BAD_CAPTION_EVERY, BAD_CAPTION_PHASE = 250, 137

SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()),
    ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
    ("caption", pa.string()), ("phash", pa.int64()),
])


def row_index(seed: int, i: int) -> int:
    """Global fixture index of local row ``i`` under ``seed``."""
    return (seed % SEED_MOD) * SEED_STRIDE + i


def _bad_caption(i: int) -> bool:
    return i % BAD_CAPTION_EVERY == BAD_CAPTION_PHASE


def _corrupt(i: int) -> bool:
    return i % CORRUPT_EVERY == CORRUPT_PHASE


def expected_counts(seed: int, rows: int) -> dict:
    """What the jobs must produce from the (seed, rows) table."""
    bad_caption = sum(map(_bad_caption, range(rows)))
    corrupt = sum(map(_corrupt, range(rows)))
    anchors, mined = expected_mined(seed, rows)
    return {"rows": rows, "bad_caption": bad_caption, "corrupt": corrupt,
            "anchors_with_cell": rows - bad_caption,
            "decodable": rows - corrupt,
            "mined_anchors": anchors, "mined_rows": mined}


def expected_mined(seed: int, rows: int) -> tuple[int, int]:
    """(anchors, rows) of ``run_mining``'s mined table, recomputed here.

    The candidates of an embedded row with a location are the other such
    rows in the ring-1 neighbourhood of its cell at the job's kNN
    resolution; a row with any candidate is an anchor and gets
    min(k, candidates) rows. Locations follow the engine's documented
    recipe (FIXTURES.md): the caption's six-decimal lat/lon plus a
    +/-1e-4 degree jitter from the low phash bits.
    """
    lat, lon = [], []
    for i in range(rows):
        if _bad_caption(i) or _corrupt(i):
            continue
        g = row_index(seed, i)
        la, lo = fixtures.row_latlon(g)
        ph = fixtures.phash_of(g)
        lat.append(float(f"{la:.6f}") + _jitter(ph, 0))
        lon.append(float(f"{lo:.6f}") + _jitter(ph, 20))
    cell = cells.latlon_to_cell(np.array(lat), np.array(lon), MINING_RES)
    per_cell = Counter(int(c) for c in cell)
    anchors = mined = 0
    for c in cell:
        others = sum(per_cell.get(n, 0) for n in cells.kring(int(c))) - 1
        anchors += others > 0
        mined += min(MINING_K, others)
    return anchors, mined


def _jitter(phash: int, shift: int) -> float:
    return (((phash >> shift) & _MASK20) / _MASK20 - 0.5) * 2e-4


def _row(seed: int, i: int) -> dict:
    g = row_index(seed, i)
    lat, lon = fixtures.row_latlon(g)
    px = fixtures.row_pixels(g)
    if i % JPEG_EVERY == JPEG_PHASE:
        fmt, data = "jpeg", encode_jpeg(px)
    elif i % 10 == 0:
        fmt, data = "pngq", encode_pngq(px)
    else:
        fmt, data = "png", encode_png(px)
    if i % CORRUPT_EVERY == CORRUPT_PHASE:
        data = data[:len(data) // 2]
    caption = fixtures.row_caption(g, lat, lon)
    if i % BAD_CAPTION_EVERY == BAD_CAPTION_PHASE:
        caption = caption.split(";", 1)[1].strip()
    return {"image_id": f"img_{g:010d}", "bytes": data,
            "w": np.int32(64), "h": np.int32(64), "fmt": fmt,
            "caption": caption, "phash": np.int64(fixtures.phash_of(g))}


def write_images(path: str, seed: int, rows: int) -> None:
    """Write the table as ``N_SHARDS`` parquet part files under ``path``."""
    os.makedirs(path)
    per = -(-rows // N_SHARDS)
    for s in range(N_SHARDS):
        lo, hi = s * per, min((s + 1) * per, rows)
        if lo >= hi:
            break
        recs = [_row(seed, i) for i in range(lo, hi)]
        table = pa.Table.from_pylist(recs, schema=SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{s:05d}.parquet"))


def ensure_images(cache_dir: str, seed: int, rows: int) -> tuple[str, float]:
    """Path of the cached table for (seed, rows), generating it if absent.

    Returns (path, seconds spent generating; 0.0 on a cache hit)."""
    final = os.path.join(cache_dir, f"seed{seed}-rows{rows}")
    images = os.path.join(final, "images.parquet")
    if os.path.isdir(images):
        return images, 0.0
    os.makedirs(cache_dir, exist_ok=True)
    t0 = time.perf_counter()
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=cache_dir)
    try:
        write_images(os.path.join(tmp, "images.parquet"), seed, rows)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(images):  # not a lost race: a real error
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return images, time.perf_counter() - t0
