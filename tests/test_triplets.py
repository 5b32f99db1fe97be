"""Cell-blocked kNN + triplet assembly vs a pure-numpy oracle
(SURVEY.md §5.2 items 3-4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from loc2vec_spark import cells
from loc2vec_spark.operators import triplets

RES = 4  # coarse grid so the tiny fixture has real neighborhoods
DIM = 8
N = 120


@pytest.fixture(scope="module")
def pts_pdf():
    rng = np.random.Generator(np.random.PCG64(5))
    lat = rng.uniform(-60.0, 60.0, N)
    lon = rng.uniform(-180.0, 180.0, N)
    emb = rng.normal(size=(N, DIM)).astype(np.float64)
    return pd.DataFrame({
        "id": np.arange(N, dtype=np.int64),
        "lat": lat, "lon": lon,
        "cell": cells.latlon_to_cell(lat, lon, RES),
        "emb": list(emb),
    })


@pytest.fixture(scope="module")
def pts(spark, pts_pdf):
    return spark.createDataFrame(pts_pdf).cache()


def numpy_knn(pdf, k=3, ring=1):
    """O(n^2) reference implementation of the cell-blocked kNN."""
    out = []
    cells_by_id = dict(zip(pdf.id, pdf.cell))
    embs = {r.id: np.array(r.emb) for r in pdf.itertuples()}
    for a in pdf.itertuples():
        ringset = set(cells.kring(int(a.cell), ring))
        cand = [(float(np.linalg.norm(embs[a.id] - embs[c.id])), c.id)
                for c in pdf.itertuples()
                if c.id != a.id and int(cells_by_id[c.id]) in ringset]
        for rank, (d, cid) in enumerate(sorted(cand)[:k], 1):
            out.append((a.id, rank, cid))
    return sorted(out)


@pytest.mark.parametrize("k", [1, 3])
def test_knn_topk_matches_numpy(pts, pts_pdf, k):
    """k=1 is the J2 positive: the single nearest in-ring neighbor,
    tie-broken by id."""
    got = triplets.knn_topk(pts, id_col="id", emb_col="emb",
                            cell_col="cell", res=RES, dim=DIM,
                            k=k, ring=1, include_dist=False)
    got_rows = sorted((r.anchor_id, r.rank, r.neighbor_id)
                      for r in got.collect())
    assert got_rows == numpy_knn(pts_pdf, k=k, ring=1)


def test_knn_deterministic_across_parallelism(pts):
    a = triplets.knn_topk(pts.repartition(1), id_col="id", emb_col="emb",
                          cell_col="cell", res=RES, dim=DIM, k=3)
    b = triplets.knn_topk(pts.repartition(13), id_col="id", emb_col="emb",
                          cell_col="cell", res=RES, dim=DIM, k=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_negative_farcell_outside_ring(pts, pts_pdf):
    neg = triplets.negative_sample_farcell_pooled(
        pts, id_col="id", cell_col="cell", res=RES, n_neg=3, seed=42)
    rows = neg.collect()
    assert len(rows) > 0
    cell_of = dict(zip(pts_pdf.id, pts_pdf.cell))
    for r in rows:
        ring = set(cells.kring(int(cell_of[r.anchor_id]), 1))
        assert int(cell_of[r.neg_id]) not in ring, r
        assert r.neg_id != r.anchor_id


def test_negative_farcell_deterministic(pts):
    a = triplets.negative_sample_farcell_pooled(
        pts, id_col="id", cell_col="cell", res=RES, n_neg=3, seed=7)
    b = triplets.negative_sample_farcell_pooled(
        pts.repartition(9), id_col="id", cell_col="cell", res=RES,
        n_neg=3, seed=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_negative_compat_contiguous_blocks(spark):
    """Reference semantics (data_loading.py:101-112) of the registered
    ``negative_compat`` query: remainder dropped, negatives are a
    contiguous slice of the id-ordered anchor list."""
    from loc2vec_spark.queries import QUERIES
    n, bs = 53, 16  # the batch size is fixed at 16 in the SQL
    ids = [3 * i + 1 for i in range(n)]
    spark.createDataFrame([(v,) for v in ids], "vec_id BIGINT") \
         .createOrReplaceTempView("embeddings")
    out = spark.sql(QUERIES["negative_compat"].spark_sql).toPandas()
    spark.catalog.dropTempView("embeddings")
    # remainder drop: 53 -> 48 anchors, each once
    assert len(out) == out.anchor_id.nunique() == (n // bs) * bs
    pos_of = {v: i for i, v in enumerate(sorted(ids))}
    out["a_rn"] = out.anchor_id.map(pos_of)
    out["n_rn"] = out.neg_id.map(pos_of)
    assert out.a_rn.max() < (n // bs) * bs
    for b, grp in out.groupby(out.a_rn // bs):
        grp = grp.sort_values("a_rn")
        assert len(grp) == bs
        # within a batch: negative row-numbers are contiguous ascending
        diffs = np.diff(grp.n_rn.to_numpy())
        assert np.all(diffs == 1), (b, grp)
        assert 0 <= grp.n_rn.min() and grp.n_rn.max() < n


def test_spatial_positive_identical_across_join_salt(pts):
    """Output-skew salting (join_salt) must not change the result: same
    pair set, min-struct agg composes exactly -> bit-identical rows."""
    def rows(js):
        return sorted(
            tuple(r) for r in triplets.spatial_positive(
                pts, id_col="id", lat_col="lat", lon_col="lon",
                cell_col="cell", res=RES, cap=64, join_salt=js).collect())
    base = rows(1)
    assert len(base) > 0
    assert rows(4) == base
    assert rows(8) == base


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("cap", [None, 1])
def test_knn_topk_anchor_subset_equals_filtered_full(pts, cap):
    """kNN for a subset of anchors against all candidates is the full
    run's rows for those anchors, capped or not (the resume path)."""
    kw = dict(id_col="id", emb_col="emb", cell_col="cell", res=RES,
              dim=DIM, k=3)
    sub = pts.filter("id % 3 = 0")
    full = _rows(triplets.knn_topk(pts, cap=cap, **kw)
                 .filter("anchor_id % 3 = 0"))
    got = triplets.knn_topk(pts, anchors=sub, cap=cap, **kw)
    assert len(full) > 0
    if cap:  # the cap binds on this fixture
        assert full != _rows(triplets.knn_topk(pts, **kw)
                             .filter("anchor_id % 3 = 0"))
    assert _rows(got) == full


@pytest.mark.parametrize("join_salt", [1, 8])
def test_triplet_table_spatial_anchor_subset_equals_filtered_full(
        pts, join_salt):
    """Positives and negatives of a subset of anchors are drawn from
    every row, so they equal the full table's rows for those anchors."""
    kw = dict(id_col="id", lat_col="lat", lon_col="lon", cell_col="cell",
              res=RES, n_neg=3, cap=1, join_salt=join_salt)
    sub = pts.filter("id % 3 = 0")
    full = triplets.triplet_table_spatial(pts, **kw) \
        .filter("anchor_id % 3 = 0")
    got = triplets.triplet_table_spatial(pts, anchors=sub, **kw)
    rows = _rows(full)
    assert len(rows) == len(_rows(sub))
    assert any(r[2] is not None for r in rows)
    assert _rows(got) == rows
