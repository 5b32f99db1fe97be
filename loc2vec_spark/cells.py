"""Hierarchical grid-cell index with an H3/S2-compatible API.

The reference (``angus-spence/loc2vec``) bakes location into PNG filenames
upstream (``/root/reference/README.md:5-7``); the engine makes location a
first-class column and assigns every row to multi-resolution cells
(SURVEY.md §1.4, op F12).

Design (SURVEY.md §7.0): a quadtree over the equirectangular lat/lon plane.
Chosen over S2's cube-face Hilbert layout because every operation here is a
handful of integer/floor expressions — which means (a) the hot path is a pure
Catalyst expression tree (whole-stage codegen, no Python), and (b) the exact
same formula text runs in DuckDB for the correctness oracle. The API mirrors
H3/S2 (``latlon_to_cell``, ``cell_to_parent``, ``kring``), so a real-H3
backend can later stand behind the same names.

Cell id layout (single int64, always >= 0, sortable by resolution):

    id = (res << 58) | (j << 29) | i

    res : resolution, 0..28          (grid is 2^res x 2^res)
    i   : longitude index, 0..2^res-1   (wraps around the antimeridian)
    j   : latitude  index, 0..2^res-1   (clamped at the poles)

Every function below has three faces, all derived from the same formula:

1. numpy (vectorized, used inside pandas UDFs and as the pytest oracle),
2. a portable SQL text builder (identical text runs in Spark SQL and DuckDB
   -> bit-identical results for the driver's value-hash comparison),
3. a pyspark Column builder (wraps the SQL text via F.expr).
"""

from __future__ import annotations

import numpy as np

RES_SHIFT = 58
J_SHIFT = 29
IJ_MASK = (1 << 29) - 1
MAX_RES = 28

_POW2_58 = 1 << 58  # 288230376151711744
_POW2_29 = 1 << 29  # 536870912


# ---------------------------------------------------------------------------
# numpy face (works on scalars and arrays alike)
# ---------------------------------------------------------------------------

def latlon_to_ij(lat, lon, res: int):
    """(lat, lon) -> integer grid coordinates (i=lon axis, j=lat axis)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    n = 1 << res
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    # longitude WRAPS (antimeridian-safe: -180.0001 -> just west of +180);
    # latitude CLAMPS at the poles. NaN inputs -> index 0 here; callers that
    # can see NaN (the pandas-UDF path) mask to NULL before returning.
    lon_w = np.mod(np.nan_to_num(lon) + 180.0, 360.0)
    i = np.floor(lon_w / 360.0 * n).astype(np.int64) % n
    j = np.floor((np.nan_to_num(lat) + 90.0) / 180.0 * n).astype(np.int64)
    j = np.clip(j, 0, n - 1)
    return i, j


def ij_to_cell(i, j, res: int):
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    return (np.int64(res) << RES_SHIFT) | (j << J_SHIFT) | i


def latlon_to_cell(lat, lon, res: int):
    """Vectorized lat/lon -> 64-bit cell id (H3's ``latlng_to_cell`` analog)."""
    i, j = latlon_to_ij(lat, lon, res)
    return ij_to_cell(i, j, res)


def cell_res(cell):
    return np.asarray(cell, dtype=np.int64) >> RES_SHIFT


def cell_ij(cell):
    cell = np.asarray(cell, dtype=np.int64)
    return cell & IJ_MASK, (cell >> J_SHIFT) & IJ_MASK


def cell_to_parent(cell, parent_res: int):
    """Coarsen a cell id (H3's ``cell_to_parent`` analog). Vectorized."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> RES_SHIFT
    d = res - parent_res
    if np.any(d < 0):
        raise ValueError("parent_res must be <= cell resolution")
    i, j = cell_ij(cell)
    return ij_to_cell(i >> d, j >> d, parent_res)


def cell_center(cell):
    """Cell id -> (lat, lon) of the cell center. Vectorized."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> RES_SHIFT
    n = np.int64(1) << res
    i, j = cell_ij(cell)
    lat = (j + 0.5) * 180.0 / n - 90.0
    lon = (i + 0.5) * 360.0 / n - 180.0
    return lat, lon


def kring_offsets(k: int = 1) -> list[tuple[int, int]]:
    """The (di, dj) neighborhood stencil, row-major, includes (0, 0)."""
    return [(di, dj) for dj in range(-k, k + 1) for di in range(-k, k + 1)]


def kring(cell: int, k: int = 1) -> list[int]:
    """All cells within Chebyshev distance k (incl. self), sorted.

    Longitude wraps (antimeridian-safe); latitude neighbors past the poles
    are dropped, so ring size is (2k+1)^2 except at the poles. Symmetric:
    b in kring(a, k)  <=>  a in kring(b, k)  (property-tested).
    """
    cell = int(cell)
    res = cell >> RES_SHIFT
    n = 1 << res
    i, j = cell & IJ_MASK, (cell >> J_SHIFT) & IJ_MASK
    out = []
    for di, dj in kring_offsets(k):
        nj = j + dj
        if 0 <= nj < n:
            ni = (i + di) % n
            out.append((res << RES_SHIFT) | (nj << J_SHIFT) | ni)
    return sorted(set(out))


def kring_array(cells, k: int = 1):
    """Vectorized k-ring: (m,) int64 cells -> (m, (2k+1)^2) int64 with -1
    for dropped (past-pole) neighbors. Used inside pandas UDFs."""
    cells = np.asarray(cells, dtype=np.int64)
    res = cells >> RES_SHIFT
    n = np.int64(1) << res
    i, j = cell_ij(cells)
    offs = np.array(kring_offsets(k), dtype=np.int64)  # (s, 2)
    ni = (i[:, None] + offs[None, :, 0]) % n[:, None]
    nj = j[:, None] + offs[None, :, 1]
    valid = (nj >= 0) & (nj < n[:, None])
    out = (res[:, None] << RES_SHIFT) | (nj << J_SHIFT) | ni
    return np.where(valid, out, np.int64(-1))


def compact_cells(cells, min_res: int = 0):
    """H3 ``compact_cells`` analog: replace every complete 4-sibling
    group with its parent, recursing on the produced parents down to
    ``min_res``. Vectorized; input is a same-resolution cell set
    (duplicates tolerated). Returns a sorted int64 array of mixed-res
    cells that cover exactly the input set (disjointly) — the canonical
    minimal multi-resolution cover, e.g. for compact polygon covers or
    coverage manifests. Round-trip law (property-tested):
    ``uncompact_cells(compact_cells(s), res) == unique(s)``."""
    cells = np.unique(np.asarray(cells, dtype=np.int64))
    if cells.size == 0:
        return cells
    res = int(cells[0] >> RES_SHIFT)
    if not np.all(cells >> RES_SHIFT == res):
        raise ValueError("compact_cells expects a same-resolution set")
    out, cur = [], cells
    while res > min_res and cur.size:
        parents = cell_to_parent(cur, res - 1)
        uniq, counts = np.unique(parents, return_counts=True)
        full = uniq[counts == 4]
        if full.size == 0:
            break
        covered = np.isin(parents, full)
        out.append(cur[~covered])
        cur, res = full, res - 1
    out.append(cur)
    return np.sort(np.concatenate(out))


def uncompact_cells(cells, res: int):
    """Inverse of :func:`compact_cells`: expand every cell to all of its
    resolution-``res`` descendants. Vectorized per source resolution."""
    cells = np.asarray(cells, dtype=np.int64)
    if cells.size == 0:
        return cells
    outs = []
    for r in np.unique(cells >> RES_SHIFT):
        d = res - int(r)
        if d < 0:
            raise ValueError("target res must be >= every cell's res")
        sub = cells[cells >> RES_SHIFT == r]
        i, j = cell_ij(sub)
        k = np.arange(1 << d, dtype=np.int64)
        ci = (i[:, None] << d) + k[None, :]          # (m, 2^d)
        cj = (j[:, None] << d) + k[None, :]
        outs.append(ij_to_cell(
            np.repeat(ci, 1 << d, axis=1),           # (m, 4^d) grid
            np.tile(cj, (1, 1 << d)), res).ravel())
    return np.sort(np.concatenate(outs))


# ---------------------------------------------------------------------------
# portable SQL face — identical text evaluates in Spark SQL and DuckDB.
# Only uses: floor, least, greatest, CAST, %, *, +, - (common to both).
# ---------------------------------------------------------------------------

def ij_sql(lat_expr: str, lon_expr: str, res: int) -> tuple[str, str]:
    """(i_expr, j_expr) SQL text for grid coordinates at ``res``.

    Longitude wraps (double-mod handles negative dividends identically in
    Spark SQL and DuckDB); latitude clamps.
    """
    n = 1 << res
    # E-notation keeps literals DOUBLE in both Spark and DuckDB (bare
    # decimals would trigger diverging DECIMAL arithmetic).
    i = (f"(CAST(FLOOR((((({lon_expr}) + 180.0E0) % 360.0E0 + 360.0E0) "
         f"% 360.0E0) / 360.0E0 * {n}) AS BIGINT) % {n})")
    j = (f"CAST(LEAST({n - 1}, GREATEST(0, "
         f"FLOOR((({lat_expr}) + 90.0E0) / 180.0E0 * {n}))) AS BIGINT)")
    return i, j


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """SQL text computing the cell id from lat/lon expressions.

    NULL-safe: NULL lat/lon yields a NULL cell (quarantine row), never a
    real cell — Spark's GREATEST/LEAST skip NULLs, so without the explicit
    CASE a NULL latitude would silently land in grid row 0.
    """
    i, j = ij_sql(lat_expr, lon_expr, res)
    cell = f"(CAST({res} AS BIGINT) * {_POW2_58} + {j} * {_POW2_29} + {i})"
    return (f"(CASE WHEN ({lat_expr}) IS NULL OR ({lon_expr}) IS NULL "
            f"THEN NULL ELSE {cell} END)")


def cell_i_sql(cell_expr: str) -> str:
    return f"(({cell_expr}) % {_POW2_29})"


def cell_j_sql(cell_expr: str) -> str:
    return f"(CAST(FLOOR(({cell_expr}) / {_POW2_29}) AS BIGINT) % {_POW2_29})"


def parent_sql(cell_expr: str, res: int, parent_res: int) -> str:
    """SQL text coarsening a cell id whose resolution is statically ``res``."""
    d = res - parent_res
    if d < 0:
        raise ValueError("parent_res must be <= res")
    pi = f"CAST(FLOOR({cell_i_sql(cell_expr)} / {1 << d}) AS BIGINT)"
    pj = f"CAST(FLOOR({cell_j_sql(cell_expr)} / {1 << d}) AS BIGINT)"
    return f"(CAST({parent_res} AS BIGINT) * {_POW2_58} + {pj} * {_POW2_29} + {pi})"


def quadkey_sql(i_expr: str, j_expr: str, res: int) -> str:
    """SQL text for the quadkey string (Bing-maps/slippy-tile interop id)
    from grid-coord expressions: base-4 digits msb-first, digit =
    2*j_bit + i_bit, so a parent cell's quadkey is a strict PREFIX of
    every child's. Portable bit extraction (FLOOR-divide + %2, no bit
    operators) and a 4-way CASE per level (no CAST-to-string dialect
    divergence). The engine's j axis is south-origin (j=0 at lat -90);
    an exporter targeting Bing's top-left origin flips j to
    (2^res - 1 - j) first."""
    parts = []
    for k in range(res):
        s = 1 << (res - 1 - k)
        d = (f"((CAST(FLOOR(({j_expr}) / {s}) AS BIGINT) % 2) * 2 "
             f"+ (CAST(FLOOR(({i_expr}) / {s}) AS BIGINT) % 2))")
        parts.append(f"(CASE {d} WHEN 0 THEN '0' WHEN 1 THEN '1' "
                     f"WHEN 2 THEN '2' ELSE '3' END)")
    return "(" + " || ".join(parts) + ")"


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lat, lon, precision: int = 8):
    """Vectorized geohash string (the third interop id next to the
    engine's cell ids and quadkeys): standard base-32 geohash — bits
    alternate lon-first msb-first, 5 bits per character. Longitude
    wraps (180 -> -180), latitude clamps, matching :func:`ij_sql`'s
    conventions. Prefix law (property-tested): truncating a geohash is
    the geohash of the same point at lower precision."""
    if not 1 <= precision <= 12:
        # 5*p bits accumulate in ONE int64; p=12 -> 60 bits is the
        # last exact width (p>=13 shifts past bit 63 — numpy shifts
        # >= 64 are undefined and would return garbage, not raise)
        raise ValueError(f"precision {precision} outside 1..12")
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    nbits = 5 * precision
    nlon, nlat = (nbits + 1) // 2, nbits // 2
    lu = (np.floor(((lon + 180.0) % 360.0) / 360.0 * (1 << nlon))
            .astype(np.int64) % (1 << nlon))
    la = np.clip(np.floor((lat + 90.0) / 180.0 * (1 << nlat)),
                 0, (1 << nlat) - 1).astype(np.int64)
    g = np.zeros(np.broadcast(lat, lon).shape, dtype=np.int64)
    for b in range(nlon):
        g |= ((lu >> (nlon - 1 - b)) & 1) << (nbits - 1 - 2 * b)
    for b in range(nlat):
        g |= ((la >> (nlat - 1 - b)) & 1) << (nbits - 2 - 2 * b)
    out = np.full(g.shape, "", dtype=object)
    for k in range(precision):
        idx = (g >> (5 * (precision - 1 - k))) & 31
        out = np.char.add(out.astype(str),
                          np.array(list(_GEOHASH32))[idx])
    return out.astype(str)


def _geohash_sql_precision_check(precision: int) -> None:
    """The SQL faces extract bits with FLOOR(x / 2^k) in IEEE double,
    exact only while the interleaved integer stays under 2^53 — i.e.
    precision <= 10 (50 bits). The numpy face has no such limit (int64
    shifts); callers needing 11-12 chars should use it, or extend the
    SQL face with chunked BIGINT extraction."""
    if precision > 10:
        raise ValueError(
            "geohash SQL faces support precision <= 10 (the 5*p-bit "
            "integer must stay double-exact); use geohash_encode "
            "(numpy) for precision 11-12")


def geohash_units_sql(lat_expr: str, lon_expr: str,
                      precision: int = 8) -> tuple[str, str]:
    """(lon_unit, lat_unit) SQL text — the quantized coordinates the
    geohash interleaves. Meant for a CTE so downstream expressions
    reference plain column names (the interleave reads each unit
    ``nbits/2`` times)."""
    _geohash_sql_precision_check(precision)
    nbits = 5 * precision
    nlon, nlat = (nbits + 1) // 2, nbits // 2
    lu = (f"(CAST(FLOOR((((({lon_expr}) + 180.0E0) % 360.0E0 + 360.0E0) "
          f"% 360.0E0) / 360.0E0 * {1 << nlon}) AS BIGINT) % {1 << nlon})")
    la = (f"CAST(LEAST({(1 << nlat) - 1}, GREATEST(0, "
          f"FLOOR((({lat_expr}) + 90.0E0) / 180.0E0 * {1 << nlat}))) "
          f"AS BIGINT)")
    return lu, la


def geohash_uint_sql(lu_expr: str, la_expr: str, precision: int = 8) -> str:
    """SQL text interleaving the quantized units into the geohash's
    5*precision-bit integer — portable bit extraction (FLOOR-divide +
    %2 on values < 2^53, exact in IEEE double in both engines)."""
    _geohash_sql_precision_check(precision)
    nbits = 5 * precision
    nlon, nlat = (nbits + 1) // 2, nbits // 2
    terms = []
    for b in range(nlon):
        terms.append(f"(CAST(FLOOR(({lu_expr}) / {1 << (nlon - 1 - b)}"
                     f".0E0) AS BIGINT) % 2) * {1 << (nbits - 1 - 2 * b)}")
    for b in range(nlat):
        terms.append(f"(CAST(FLOOR(({la_expr}) / {1 << (nlat - 1 - b)}"
                     f".0E0) AS BIGINT) % 2) * {1 << (nbits - 2 - 2 * b)}")
    return "(" + " + ".join(terms) + ")"


def geohash_chars_sql(g_expr: str, precision: int = 8) -> str:
    """SQL text rendering the interleaved integer as the base-32
    geohash string (SUBSTRING into the alphabet per 5-bit group)."""
    _geohash_sql_precision_check(precision)
    parts = []
    for k in range(precision):
        s = 1 << (5 * (precision - 1 - k))
        idx = f"CAST(FLOOR(({g_expr}) / {s}.0E0) AS BIGINT) % 32"
        parts.append(f"SUBSTRING('{_GEOHASH32}', ({idx}) + 1, 1)")
    return "(" + " || ".join(parts) + ")"


def neighbor_sql(i_expr: str, j_expr: str, di_expr: str, dj_expr: str,
                 res: int) -> str:
    """SQL text for a neighbor cell id given grid coords + offsets.

    Caller must filter ``j + dj`` into [0, 2^res) separately (pole drop);
    longitude wraps via modular arithmetic here.
    """
    n = 1 << res
    ni = f"((({i_expr}) + ({di_expr}) + {n}) % {n})"
    nj = f"(({j_expr}) + ({dj_expr}))"
    return f"(CAST({res} AS BIGINT) * {_POW2_58} + {nj} * {_POW2_29} + {ni})"


# ---------------------------------------------------------------------------
# pyspark Column face
# ---------------------------------------------------------------------------

def cell_col(lat_col: str, lon_col: str, res: int):
    """Catalyst expression Column for the cell id (whole-stage codegen —
    this is the hot path for tile assignment; no Python involved)."""
    from pyspark.sql import functions as F
    return F.expr(cell_sql(lat_col, lon_col, res))


def parent_col(cell_colname: str, res: int, parent_res: int):
    from pyspark.sql import functions as F
    return F.expr(parent_sql(cell_colname, res, parent_res))


# ---------------------------------------------------------------------------
# Resolution chooser (SURVEY.md §4.1(c): target rows/cell -> pick res)
# ---------------------------------------------------------------------------

def choose_resolution(df, lat_col: str, lon_col: str, *,
                      target_rows_per_cell: int = 100_000,
                      res_candidates=range(3, 16),
                      rsd: float = 0.05) -> tuple[int, dict[int, float]]:
    """Pick the resolution whose mean occupied-cell size is closest to
    ``target_rows_per_cell`` (ties -> finer).

    A planner-like driver utility next to the salt-factor chooser
    (lineage.salted): too-coarse cells
    skew the per-cell work (rasterize/kNN candidate blowup), too-fine
    cells drown in task overhead and tiny files. One distributed pass
    measures ALL candidate resolutions at once — each res is an
    independent ``approx_count_distinct(cell_sql(res))`` expression in a
    single global aggregate (map-side partials, one row out; the HLL
    sketch keeps it O(1) memory per res regardless of N).

    Returns ``(best_res, {res: mean_rows_per_occupied_cell})``.
    """
    from pyspark.sql import functions as F

    res_candidates = list(res_candidates)
    # numerator = rows that actually land in a cell: cell_sql is NULL-safe
    # (NULL lat/lon -> NULL cell) and approx_count_distinct skips NULLs,
    # so counting ALL rows would inflate occupancy on dirty data and bias
    # the choice; F.count over the (res-independent) NULL-ness of one
    # candidate's cell expression counts exactly the assignable rows
    aggs = [F.count(F.expr(cell_sql(lat_col, lon_col,
                                    res_candidates[0]))).alias("n")]
    for r in res_candidates:
        aggs.append(F.approx_count_distinct(
            F.expr(cell_sql(lat_col, lon_col, r)), rsd).alias(f"c{r}"))
    row = df.agg(*aggs).first()
    n = row["n"]
    occupancy = {r: n / max(1, row[f"c{r}"]) for r in res_candidates}
    best = min(occupancy,
               key=lambda r: (abs(occupancy[r] - target_rows_per_cell), -r))
    return best, occupancy
