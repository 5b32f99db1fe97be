"""Cell index unit/property tests (SURVEY.md §5.2 item 1)."""

import numpy as np
import pytest

from loc2vec_spark import cells


def test_roundtrip_center():
    rng = np.random.Generator(np.random.PCG64(7))
    lat = rng.uniform(-89.9, 89.9, 1000)
    lon = rng.uniform(-180.0, 180.0, 1000)
    for res in (0, 3, 7, 12, 20):
        c = cells.latlon_to_cell(lat, lon, res)
        clat, clon = cells.cell_center(c)
        half_lat = 90.0 / (1 << res)
        half_lon = 180.0 / (1 << res)
        assert np.all(np.abs(clat - lat) <= half_lat + 1e-9)
        assert np.all(np.abs(clon - lon) <= half_lon + 1e-9)
        # re-encoding the center gives the same cell
        assert np.array_equal(cells.latlon_to_cell(clat, clon, res), c)


def test_resolution_encoded():
    c = cells.latlon_to_cell(51.5, -0.12, 7)
    assert cells.cell_res(c) == 7


def test_parent_contains_child():
    rng = np.random.Generator(np.random.PCG64(8))
    lat = rng.uniform(-89.0, 89.0, 500)
    lon = rng.uniform(-180.0, 180.0, 500)
    c9 = cells.latlon_to_cell(lat, lon, 9)
    c5 = cells.latlon_to_cell(lat, lon, 5)
    assert np.array_equal(cells.cell_to_parent(c9, 5), c5)


def test_kring_symmetry():
    rng = np.random.Generator(np.random.PCG64(9))
    lat = rng.uniform(-89.0, 89.0, 200)
    lon = rng.uniform(-180.0, 180.0, 200)
    for res in (3, 7):
        for c in cells.latlon_to_cell(lat, lon, res):
            for nb in cells.kring(int(c), 1):
                assert int(c) in cells.kring(int(nb), 1), (c, nb)


def test_kring_size_and_self():
    c = cells.latlon_to_cell(10.0, 20.0, 7)
    ring = cells.kring(int(c), 1)
    assert int(c) in ring
    assert len(ring) == 9  # interior cell
    # pole row: neighbors past the pole dropped
    cp = cells.latlon_to_cell(89.99, 20.0, 7)
    assert len(cells.kring(int(cp), 1)) == 6


def test_kring_lon_wraparound():
    res = 7
    c = cells.latlon_to_cell(0.0, -179.999, res)
    ring = cells.kring(int(c), 1)
    c_other_side = cells.latlon_to_cell(0.0, 179.999, res)
    assert int(c_other_side) in ring


def test_kring_array_matches_scalar():
    rng = np.random.Generator(np.random.PCG64(10))
    lat = rng.uniform(-89.0, 89.0, 100)
    lon = rng.uniform(-180.0, 180.0, 100)
    cs = cells.latlon_to_cell(lat, lon, 7)
    arr = cells.kring_array(cs, 1)
    for row, c in zip(arr, cs):
        got = sorted(set(int(x) for x in row if x >= 0))
        assert got == cells.kring(int(c), 1)


def test_sql_matches_numpy_duckdb():
    """The portable SQL text computes the identical cell id in DuckDB."""
    duckdb = pytest.importorskip("duckdb")
    rng = np.random.Generator(np.random.PCG64(11))
    lat = rng.uniform(-89.0, 89.0, 500)
    lon = rng.uniform(-180.0, 180.0, 500)
    import pandas as pd
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    con = duckdb.connect()
    con.register("t", pdf)
    for res in (5, 7, 9):
        sql = cells.cell_sql("lat", "lon", res)
        got = con.sql(f"SELECT {sql} AS c FROM t").df()["c"].to_numpy()
        assert np.array_equal(got, cells.latlon_to_cell(lat, lon, res))
        psql = cells.parent_sql(cells.cell_sql("lat", "lon", res), res, 5)
        gotp = con.sql(f"SELECT {psql} AS c FROM t").df()["c"].to_numpy()
        assert np.array_equal(gotp, cells.latlon_to_cell(lat, lon, 5))


def test_sql_matches_numpy_spark(spark):
    import pandas as pd
    rng = np.random.Generator(np.random.PCG64(12))
    lat = rng.uniform(-89.0, 89.0, 300)
    lon = rng.uniform(-180.0, 180.0, 300)
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    got = df.select(cells.cell_col("lat", "lon", 7).alias("c")) \
            .toPandas()["c"].to_numpy()
    assert np.array_equal(got, cells.latlon_to_cell(lat, lon, 7))


def test_lon_wraps_lat_clamps():
    res = 7
    n = 1 << res
    # just past the antimeridian -> wraps to the east-most column
    c = cells.latlon_to_cell(0.0, -180.0001, res)
    i, _ = cells.cell_ij(c)
    assert int(i) == n - 1
    c2 = cells.latlon_to_cell(0.0, 180.0001, res)
    i2, _ = cells.cell_ij(c2)
    assert int(i2) == 0
    # past the pole -> clamps to the last row
    cp = cells.latlon_to_cell(90.0001, 0.0, res)
    _, j = cells.cell_ij(cp)
    assert int(j) == n - 1


def test_null_latlon_gives_null_cell_sql():
    """NULL lat/lon must yield NULL cell (quarantine), never cell (0,0) —
    Spark GREATEST skips NULLs, so this needs the explicit CASE guard."""
    duckdb = pytest.importorskip("duckdb")
    sql = cells.cell_sql("lat", "lon", 7)
    got = duckdb.sql(
        f"SELECT {sql} AS c FROM (SELECT CAST(NULL AS DOUBLE) lat, "
        f"1.0 lon)").fetchone()[0]
    assert got is None


def test_null_latlon_gives_null_cell_spark(spark):
    sql = cells.cell_sql("lat", "lon", 7)
    row = spark.sql(
        f"SELECT {sql} AS c FROM (SELECT CAST(NULL AS DOUBLE) lat, "
        f"1.0D lon)").collect()[0]
    assert row.c is None


def test_sql_wrap_matches_numpy_negative_lons():
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    vals = np.array([-180.0001, -359.9, 180.0001, 540.5, -0.0001])
    lats = np.zeros_like(vals)
    pdf = pd.DataFrame({"lat": lats, "lon": vals})
    con = duckdb.connect()
    con.register("t", pdf)
    sql = cells.cell_sql("lat", "lon", 7)
    got = con.sql(f"SELECT {sql} AS c FROM t").df()["c"].to_numpy()
    assert np.array_equal(got, cells.latlon_to_cell(lats, vals, 7))


def test_quadkey_numpy_sql_parity_and_prefix_law(spark):
    """The SQL face equals per-digit numpy bit extraction on real data,
    the res-5 key is a strict prefix of the res-7 key (hierarchy-by-prefix
    law), and lexicographic quadkey order equals Morton (z-order) cell
    order."""
    from loc2vec_spark import cells, queries as q
    out = q.run_spark(spark, "/root/testdata/sf0.01",
                      "quadkey_assign").collect()
    assert all(len(r.qk7) == 7 and len(r.qk5) == 5 for r in out)
    assert all(r.qk7.startswith(r.qk5) for r in out)
    i, j = cells.cell_ij(np.array([r.cell for r in out]))
    # digit = 2*j_bit + i_bit, msb-first
    digits = [((j >> s) & 1) * 2 + ((i >> s) & 1) for s in range(6, -1, -1)]
    np_qk = ["".join(str(d[k]) for d in digits) for k in range(len(out))]
    assert np_qk == [r.qk7 for r in out]
    # prefix order = interleaved-bits order: sorting by quadkey equals
    # sorting by the Morton number of (i, j)
    def morton(ii, jj):
        m = 0
        for s in range(6, -1, -1):
            m = (m << 2) | (((jj >> s) & 1) << 1) | ((ii >> s) & 1)
        return m
    by_qk = sorted(range(len(out)), key=lambda k: out[k].qk7)
    by_m = sorted(range(len(out)),
                  key=lambda k: (morton(int(i[k]), int(j[k])), k))
    by_qk_stable = sorted(range(len(out)),
                          key=lambda k: (out[k].qk7, k))
    assert by_qk_stable == by_m
