"""Multimodal binary-column operators (S3/E2) + packaging tests."""

import importlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from loc2vec_spark import fixtures
from loc2vec_spark.operators import images as img_ops
from loc2vec_spark.packaging import build_pyfiles_zip, ensure_workers_can_import
from loc2vec_spark.png_codec import decode_png, encode_png, psnr


@pytest.fixture(scope="module")
def images(spark, fixture_dir):
    ensure_workers_can_import(spark)
    return spark.read.parquet(f"{fixture_dir}/images.parquet")


def test_decode_stats_matches_source_pixels(spark, images):
    out = img_ops.decode_stats(images).toPandas().set_index("image_id")
    assert out.ok.all()
    for iid in list(out.index)[:20]:
        i = int(iid.split("_")[1])
        px = fixtures.row_pixels(i)
        row = out.loc[iid]
        assert (row.h, row.w) == (64, 64)
        if i % 10 != 0:  # lossless rows: stats exact
            assert row.mean_px == round(float(px.mean()), 6)


def test_decode_quarantines_corrupt_bytes(spark):
    import pandas as pd
    pdf = pd.DataFrame({"image_id": ["good", "bad", "nullrow"],
                        "bytes": [fixtures.images_pdf(1).bytes.iloc[0],
                                  b"garbage", None]})
    out = img_ops.decode_stats(spark.createDataFrame(pdf)).toPandas()
    # null bytes filtered pre-UDF; corrupt bytes quarantined with ok=false
    assert set(out.image_id) == {"good", "bad"}
    assert bool(out.set_index("image_id").loc["good", "ok"])
    assert not bool(out.set_index("image_id").loc["bad", "ok"])


# every per-row bytes operator: (module.function, id column, whether a
# failed row stays as ok=false or is dropped)
_ALL_CORRUPT_CASES = [
    ("images.decode_stats", "image_id", True),
    ("images.image_quality", "image_id", True),
    ("images.detect_borders", "image_id", True),
    ("audio.audio_stats", "audio_id", True),
    ("video.video_stats", "video_id", True),
    ("webp.webp_probe", "image_id", True),
    ("mp4.mp4_probe", "video_id", True),
    ("images.image_features", "image_id", False),
    ("images.resize_images", "image_id", False),
    ("images.phash_images", "image_id", False),
    ("images.augment_images", "image_id", False),
    ("audio.audio_features", "audio_id", False),
    ("video.video_features", "video_id", False),
    ("video.frame_sample", "video_id", False),
    ("avdedup.audio_fingerprints", "audio_id", False),
]


@pytest.mark.parametrize("op, id_col, keeps_failed", _ALL_CORRUPT_CASES,
                         ids=[c[0] for c in _ALL_CORRUPT_CASES])
def test_all_corrupt_batch_quarantines(spark, op, id_col, keeps_failed):
    """A batch whose every row fails (a resume can feed one such bucket
    alone) quarantines its rows instead of failing the job: one ok=false
    row per input with every other field NULL, or no row at all."""
    mod, name = op.split(".")
    fn = getattr(importlib.import_module(
        f"loc2vec_spark.operators.{mod}"), name)
    ids = ["bad0", "bad1", "bad2"]
    df = spark.createDataFrame(
        [(i, bytearray(b"garbage")) for i in ids],
        f"{id_col} STRING, bytes BINARY").coalesce(1)
    rows = fn(df).collect()
    if not keeps_failed:
        assert rows == []
        return
    assert sorted(r[id_col] for r in rows) == ids
    for r in rows:
        assert r["ok"] is False
        assert all(v is None for v in r[2:]), r


def test_image_features_deterministic_and_fixes_id_alignment(spark, images):
    a = img_ops.image_features(images).toPandas()
    b = img_ops.image_features(images.repartition(5)).toPandas()
    assert len(a) == images.filter("bytes IS NOT NULL").count()
    assert (a.embedding.map(len) == img_ops.FEATURE_DIM).all()
    am = {r.image_id: tuple(r.embedding) for r in a.itertuples()}
    bm = {r.image_id: tuple(r.embedding) for r in b.itertuples()}
    assert am == bm  # id travels with the row -> no positional misalignment


def test_resize_roundtrip(spark, images):
    out = img_ops.resize_images(images, out_px=16).toPandas()
    assert (out.w == 16).all() and (out.h == 16).all()
    arr = decode_png(out.bytes.iloc[0])
    assert arr.shape == (16, 16, 3)


def test_av_stub_raises_for_compressed_only(spark, images):
    # audio (operators/audio.py) and video (operators/video.py) are real
    # paths now; compressed codecs stay honest stubs until one exists
    with pytest.raises(NotImplementedError):
        img_ops.decode_av(images, kind="h264")


def test_pyfiles_zip_importable(tmp_path):
    import zipfile
    z = build_pyfiles_zip(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(z).namelist()
    assert "loc2vec_spark/__init__.py" in names
    assert "loc2vec_spark/operators/triplets.py" in names


def test_phash_bands_reassemble_and_are_deterministic(spark, images):
    out = img_ops.phash_images(images.limit(40)).toPandas()
    assert len(out) == 40
    again = img_ops.phash_images(images.limit(40)).toPandas()
    assert out.sort_values("image_id").reset_index(drop=True).equals(
        again.sort_values("image_id").reset_index(drop=True))
    for r in out.itertuples():
        u = r.phash + (1 << 64) if r.phash < 0 else r.phash
        assert [(u >> s) & 0xFFFF for s in (48, 32, 16, 0)] \
            == [r.b0, r.b1, r.b2, r.b3]


def test_phash_near_dup_small_hamming_far_images_large(spark):
    import pandas as pd
    from loc2vec_spark.png_codec import encode_png

    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    # structured image so block means are well-separated from the mean
    grad = (np.arange(64)[:, None] * 4).clip(0, 255).astype(np.uint8)
    base = ((base.astype(int) + grad[:, :, None]) // 2).astype(np.uint8)
    near = base.copy()
    near[:4, :4] = 255 - near[:4, :4]          # perturb one corner block
    far = base[::-1, ::-1].copy()              # flipped: different layout

    pdf = pd.DataFrame({"image_id": ["base", "near", "far"],
                        "bytes": [encode_png(x) for x in (base, near, far)]})
    out = img_ops.phash_images(spark.createDataFrame(pdf)) \
        .toPandas().set_index("image_id")

    def ham(a, b):
        return bin((int(a) ^ int(b)) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(out.loc["base", "phash"], out.loc["near", "phash"]) <= 3
    assert ham(out.loc["base", "phash"], out.loc["far", "phash"]) > 10
    # the banded join's pigeonhole guarantee holds on the near pair
    shared = sum(out.loc["base", f"b{i}"] == out.loc["near", f"b{i}"]
                 for i in range(4))
    assert shared >= 1


def test_image_quality_planted_and_matches_kernel(spark):
    """Planted flat / checkerboard / noise / blurred tiles: the signal
    ordering a quality filter depends on (flat ~ 0 everywhere,
    checker sharp > blurred, noise has max entropy), and the Spark
    column values equal the pure-numpy kernel on the source pixels."""
    import pandas as pd
    from loc2vec_spark.png_codec import encode_png

    rng = np.random.default_rng(42)
    flat = np.full((64, 64, 3), 128, dtype=np.uint8)
    checker = (np.indices((64, 64)).sum(0) % 2 * 255)[..., None] \
        .repeat(3, 2).astype(np.uint8)
    noise = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    # box-blur the checkerboard (2x2 mean -> all pixels ~127.5 -> flat)
    c = checker.astype(np.float64)
    blurred = ((c + np.roll(c, 1, 0) + np.roll(c, 1, 1)
                + np.roll(np.roll(c, 1, 0), 1, 1)) / 4).astype(np.uint8)
    planted = {"flat": flat, "checker": checker, "noise": noise,
               "blurred": blurred}
    pdf = pd.DataFrame({"image_id": list(planted),
                        "bytes": [encode_png(a) for a in planted.values()]})
    out = img_ops.image_quality(spark.createDataFrame(pdf)) \
        .toPandas().set_index("image_id")
    assert out.ok.all()
    assert out.loc["flat", "sharpness"] == 0.0
    assert out.loc["flat", "entropy"] == 0.0
    assert out.loc["flat", "edge_energy"] == 0.0
    assert out.loc["checker", "sharpness"] > out.loc["blurred", "sharpness"]
    assert out.loc["noise", "entropy"] > out.loc["checker", "entropy"]
    assert abs(out.loc["checker", "brightness"] - 0.5) < 0.02
    for name, arr in planted.items():
        expect = img_ops.quality_signals(arr)
        got = out.loc[name]
        for col, v in zip(["sharpness", "edge_energy", "contrast",
                           "brightness", "entropy"], expect):
            assert abs(got[col] - round(v, 6)) < 1e-9, (name, col)


def test_image_quality_quarantines_corrupt(spark):
    import pandas as pd
    pdf = pd.DataFrame({"image_id": ["good", "bad"],
                        "bytes": [fixtures.images_pdf(1).bytes.iloc[0],
                                  b"garbage"]})
    out = img_ops.image_quality(spark.createDataFrame(pdf)) \
        .toPandas().set_index("image_id")
    assert bool(out.loc["good", "ok"]) and not bool(out.loc["bad", "ok"])
    assert out.loc["good", "sharpness"] is not None


def test_augment_pixel_goldens_and_determinism(spark, images):
    """Each augmented PNG must decode to exactly the numpy transform of
    the source pixels (lossless dihedral ops), the op pick must be a
    pure function of (image_id, seed) — identical at any partitioning —
    and copies>1 multiplies the pool with distinct ids."""
    sub = images.limit(24).cache()
    src = {r.image_id: decode_png(bytes(r.bytes))
           for r in sub.select("image_id", "bytes").collect()}
    out = {r.base_id: (r.aug_op, decode_png(bytes(r.bytes)))
           for r in img_ops.augment_images(sub, seed=7).collect()}
    assert set(out) == set(src)
    expect = {
        "identity": lambda a: a, "fliplr": lambda a: a[:, ::-1],
        "flipud": lambda a: a[::-1, :],
        "rot90": lambda a: np.rot90(a, 1),
        "rot180": lambda a: np.rot90(a, 2),
        "rot270": lambda a: np.rot90(a, 3)}
    for iid, (op, arr) in out.items():
        assert np.array_equal(arr, expect[op](src[iid])), (iid, op)
    # several distinct ops must actually occur over 24 images
    assert len({op for op, _ in out.values()}) >= 3
    # determinism across partitioning (seeded hash, no RNG state)
    out13 = {r.base_id: r.aug_op
             for r in img_ops.augment_images(
                 sub.repartition(13), seed=7).collect()}
    assert out13 == {k: op for k, (op, _) in out.items()}
    # copies=2: twice the rows, suffixed ids, per-copy independent picks
    two = img_ops.augment_images(sub.limit(6), seed=7, copies=2).collect()
    assert len(two) == 12
    assert {r.image_id.split("#")[-1] for r in two} == {"aug0", "aug1"}
    # base_id is a real column, not a string-split of the suffixed id
    # (a source id containing '#' must still rejoin correctly)
    assert all(r.image_id == f"{r.base_id}#aug{i}"
               for r in two for i in [int(r.image_id[-1])])


def test_image_quality_face_matches_closed_forms(spark):
    """The image_quality driver face: planted stripe PNGs through the
    real encoder+decoder+kernel reproduce the closed-form signals the
    SQL oracle computes (sharpness 4d^2, zero Sobel, exact-half
    contrast/brightness, exactly 1 bit of entropy)."""
    spark.createDataFrame([(v, [0.0]) for v in range(64)],
                          "vec_id long, embedding array<double>") \
        .createOrReplaceTempView("embeddings")
    from loc2vec_spark.queries_ml import _image_quality_fn
    got = _image_quality_fn(spark, None).toPandas() \
        .sort_values("vec_id").reset_index(drop=True)
    assert len(got) == 64 and got.ok.all()
    for r in got.itertuples():
        b = 40 + (r.vec_id * 7) % 120
        d = 2 + 2 * ((r.vec_id * 11) % 40)
        assert r.sharpness == 4 * d * d
        assert r.edge_energy == 0.0
        assert r.contrast == round((d / 2) / 255, 6)
        assert r.brightness == round((b + d / 2) / 255, 6)
        assert r.entropy == 1.0


def test_image_resize_face_matches_spark_sql_replay(spark):
    """The real chain (encode 19x17 gradient PNG -> nearest-neighbor
    resize_images -> re-encode -> decode -> weighted checksum) equals
    the pure-SQL replay of the index arithmetic run IN SPARK — an
    in-engine cross-check independent of the DuckDB oracle — and a
    numpy replay of one image pins the index math itself."""
    import numpy as np

    from loc2vec_spark.queries_ml import (_RSZ_H, _RSZ_OUT,
                                          _RSZ_SPARK_ORACLE, _RSZ_W,
                                          _image_resize_fn)
    spark.createDataFrame([(v,) for v in range(40)],
                          "vec_id long") \
        .createOrReplaceTempView("embeddings")
    got = _image_resize_fn(spark, None).toPandas() \
        .sort_values("vec_id").reset_index(drop=True)
    exp = spark.sql(_RSZ_SPARK_ORACLE).toPandas() \
        .sort_values("vec_id").reset_index(drop=True)
    assert len(got) == len(exp) == 40
    assert (got.vec_id.to_numpy() == exp.vec_id.to_numpy()).all()
    assert (got.w == _RSZ_OUT).all() and (got.h == _RSZ_OUT).all()
    assert (got.pix_checksum.to_numpy()
            == exp.pix_checksum.to_numpy()).all()

    # numpy replay for v=7: full-res gradient, index pick, checksum
    v = 7
    b0, kr, kc = (v * 7) % 100, 1 + (v * 13) % 23, 1 + (v * 17) % 29
    r = np.arange(_RSZ_H, dtype=np.int64)[:, None]
    c = np.arange(_RSZ_W, dtype=np.int64)[None, :]
    full = (b0 + r * kr + c * kc) % 256
    ri = np.arange(_RSZ_OUT) * _RSZ_H // _RSZ_OUT
    ci = np.arange(_RSZ_OUT) * _RSZ_W // _RSZ_OUT
    small = full[np.ix_(ri, ci)]
    rr = np.arange(_RSZ_OUT, dtype=np.int64)[:, None]
    cc = np.arange(_RSZ_OUT, dtype=np.int64)[None, :]
    wgt = 1 + (rr * 31 + cc * 17) % 97
    assert int(got[got.vec_id == v].pix_checksum.iloc[0]) \
        == int((small * wgt).sum())


def test_border_box_kernel():
    from loc2vec_spark.operators.images import border_box
    rng = np.random.default_rng(13)
    # letterbox: 4 black rows top/bottom around busy content
    content = rng.integers(60, 220, (10, 16, 3), dtype=np.uint8)
    img = np.zeros((18, 16, 3), dtype=np.uint8)
    img[4:14] = content
    assert border_box(img) == (4, 14, 0, 16)
    # pillarbox: white columns, white corners anchor the reference
    img2 = np.full((10, 20, 3), 255, dtype=np.uint8)
    img2[:, 5:15] = content[:, :10]
    assert border_box(img2) == (0, 10, 5, 15)
    # no border: content reaches every edge
    busy = rng.integers(0, 256, (9, 9, 3), dtype=np.uint8)
    busy[0, 0] = busy[0, -1] = busy[-1, 0] = busy[-1, -1] = 0
    busy[0, 1] = 255  # corner-colored corners but a busy first row
    assert border_box(busy) == (0, 9, 0, 9)
    # fully uniform image degenerates to the empty box
    assert border_box(np.full((8, 8), 7, dtype=np.uint8)) == \
        (0, 0, 0, 0)
    # tolerance: near-black noise in the bars still counts as border
    img3 = img.copy()
    img3[0:4] += rng.integers(0, 5, (4, 16, 3)).astype(np.uint8)
    assert border_box(img3, tol=8) == (4, 14, 0, 16)


def test_detect_borders_operator(spark):
    """Letterboxed re-encodes crop back to the same content box across
    formats; corrupt rows quarantine."""
    from loc2vec_spark.operators.gif import encode_gif
    from loc2vec_spark.operators.images import detect_borders
    rng = np.random.default_rng(14)
    pal = rng.integers(30, 230, (8, 3), dtype=np.uint8)
    content = pal[rng.integers(0, 8, (10, 12))]
    img = np.zeros((16, 12, 3), dtype=np.uint8)
    img[3:13] = content
    rows = [
        ("png", bytearray(encode_png(img))),
        ("gif", bytearray(encode_gif(img))),
        ("clean", bytearray(encode_png(content))),
        ("corrupt", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8)),
    ]
    df = spark.createDataFrame(rows, "image_id STRING, bytes BINARY")
    out = {r["image_id"]: r for r in detect_borders(df).collect()}
    for k in ("png", "gif"):
        assert out[k]["ok"]
        assert (out[k]["top"], out[k]["bottom"]) == (3, 13)
        assert out[k]["border_frac"] == pytest.approx(6 * 12 / (16.0 * 12))
    assert out["clean"]["border_frac"] == 0.0
    assert not out["corrupt"]["ok"]
