"""Triplet assembly + cell-blocked kNN mining (the flagship pipeline).

Replaces the reference's O(n^2) all-pairs distance matrix
(``/root/reference/src/loc2vec/triplet_mining.py:103-114`` — the author's
own comment at ``:17-20`` flags it as BAD) with the north-star plan:
k-ring expansion -> equi-join on cell -> within-group distance sort via
window functions. At 10^12 rows the all-pairs join is impossible; the
cell-blocked join shuffles each row to O(ring^2) cells and compares only
within spatially-plausible blocks.

Also re-expresses the reference's triplet assembly
(``data_loading.py:104-113``): positive = nearest in-ring neighbor (J2 as a
cell-neighbor join), negative = seeded far-cell sample (J4; the reference's
contiguous-block hack is the registered ``negative_compat`` query).

Determinism: every ordering is tie-broken by id, every random pick is a
seeded integer hash — output is identical at any parallelism (the scaling
bench depends on this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import cells
from ..functions import SPARK_BASE, euclid_sql
from .geo import kring_explode

# portable multiplicative hash (same text runs in DuckDB for the oracle)
_KNUTH = 2654435761


def _hash_sql(expr: str, seed: int, mod: int) -> str:
    return f"(((({expr}) * {_KNUTH} + {seed}) % {mod} + {mod}) % {mod})"


# ---------------------------------------------------------------------------
# J5 + W1: cell-blocked kNN
# ---------------------------------------------------------------------------

def knn_topk(pts: DataFrame, *, id_col: str, emb_col: str,
             cell_col: str, res: int, dim: int, k: int = 5,
             ring: int = 1, include_dist: bool = True,
             cap: int | None = None, seed: int = 42,
             anchors: DataFrame | None = None) -> DataFrame:
    """Top-k nearest in-ring neighbors per row.

    pts must carry (id_col, emb_col, cell_col at resolution ``res``).
    Output: (anchor_id, rank, neighbor_id[, dist]) — dist rounded to 6dp,
    computed in double with a fixed-order expression so the DuckDB oracle
    hashes identically.

    ``anchors`` (same columns, default ``pts``) are the rows that get
    neighbors; candidates are always drawn from ``pts``, so the result
    equals the full run's rows for those anchors (a resume passes only
    its uncommitted rows).

    ``cap`` bounds the CANDIDATE side per cell (seeded uniform sample via
    :func:`percell_cap`): a hot urban cell with 10^6 rows would otherwise
    make the join quadratic in that cell. Capping makes the kNN
    approximate within hot cells only — a documented downsampling, off by
    default so the oracle-parity path stays exact.
    """
    if anchors is None:
        anchors = pts
    a = anchors.select(F.col(id_col).alias("anchor_id"),
                       F.col(emb_col).alias("a_emb"),
                       F.col(cell_col).alias("a_cell"))
    a = kring_explode(a, "a_cell", res, k=ring, out_col="nb_cell")
    c = pts.select(F.col(id_col).alias("neighbor_id"),
                   F.col(emb_col).alias("c_emb"),
                   F.col(cell_col).alias("c_cell"))
    if anchors is not pts:
        c = _in_ring_cells(c, a)
    if cap is not None:
        c = percell_cap(c, cell_col="c_cell", id_col="neighbor_id",
                        cap=cap, seed=seed)
    cand = (a.join(c, F.col("nb_cell") == F.col("c_cell"))
             .filter(F.col("anchor_id") != F.col("neighbor_id"))
             .withColumn("dist", F.expr(
                 euclid_sql("a_emb", "c_emb", dim, SPARK_BASE))))
    w = Window.partitionBy("anchor_id").orderBy("dist", "neighbor_id")
    out = (cand.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k))
    sel = [F.col("anchor_id"), F.col("rank"), F.col("neighbor_id")]
    if include_dist:
        sel.append(F.round("dist", 6).alias("dist"))
    return out.select(*sel)


def _in_ring_cells(c: DataFrame, a: DataFrame) -> DataFrame:
    """Candidates ``c`` (keyed by ``c_cell``) restricted to the cells of
    the exploded anchors' rings (``nb_cell``). Whole cells are kept, so
    a per-cell cap applied afterwards samples exactly as over all of
    ``c``; no anchor loses a candidate."""
    return c.join(a.select(F.col("nb_cell").alias("c_cell")), "c_cell",
                  "left_semi")


# ---------------------------------------------------------------------------
# J4: negative sampling
# ---------------------------------------------------------------------------

def _id_hash_col(colname: str, seed: int, mod: int):
    """Portable deterministic hash of an id column -> [0, mod).

    Works for bigint ids directly; string ids go through a stable
    digit-extraction (ids in this engine embed their index: img_00000042).
    """
    e = (f"CAST(REGEXP_REPLACE(CAST({colname} AS STRING), '[^0-9]', '') "
         f"AS BIGINT)")
    return F.expr(_hash_sql(f"COALESCE({e}, 0)", seed, mod))


# ---------------------------------------------------------------------------
# skew control + spatial (lat/lon) positives — the 100TB-scale path
# ---------------------------------------------------------------------------

def percell_cap(pts: DataFrame, *, cell_col: str, id_col: str, cap: int,
                seed: int = 42, n_salt: int = 1) -> DataFrame:
    """Deterministically cap rows per cell (candidate-side skew control).

    A hot urban cell with 10^8 rows would make the kNN join quadratic in
    that cell (the skew the reference itself diagnoses via its file-size
    histogram, trainset_validation.py:49-59). We keep a seeded uniform
    sample of at most ``cap`` rows per cell, ranked by an id hash so the
    sample is stable across runs and parallelism.

    ``n_salt > 1`` bounds the window-sort partition size for very hot
    cells: ranking happens within (cell, salt) and each salt keeps
    cap/n_salt rows — the cap becomes approximate but partitions stay
    bounded (SURVEY.md §7.3 "applyInPandas memory" mitigation applies to
    window sorts too). Dropped rows are a documented downsampling, not a
    silent truncation: callers can diff counts before/after.
    """
    order = _id_hash_col(id_col, seed, 1_000_000_007)
    if n_salt <= 1:
        w = Window.partitionBy(cell_col).orderBy(order.asc(), id_col)
        return (pts.withColumn("_cr", F.row_number().over(w))
                   .filter(F.col("_cr") <= cap).drop("_cr"))
    per_salt = max(1, cap // n_salt)
    salt = _id_hash_col(id_col, seed + 99, n_salt)
    w = Window.partitionBy(cell_col, "_salt").orderBy(order.asc(), id_col)
    return (pts.withColumn("_salt", salt)
               .withColumn("_cr", F.row_number().over(w))
               .filter(F.col("_cr") <= per_salt).drop("_cr", "_salt"))


def spatial_positive(pts: DataFrame, *, id_col: str, lat_col: str,
                     lon_col: str, cell_col: str, res: int,
                     cap: int = 256, seed: int = 42,
                     join_salt: int = 1,
                     anchors: DataFrame | None = None) -> DataFrame:
    """J2 at scale: positive = spatially nearest in-ring neighbor.

    This is the north-star reading of the reference's anchor/positive
    pairing (``data_loading.py:104-108``): the positive is a
    spatially-offset tile of the same location, found by k-ring-1
    expansion + 2-D distance sort. Candidates are capped per cell
    (:func:`percell_cap`) so hot cells stay sub-quadratic.

    ``join_salt`` addresses join-OUTPUT skew at high caps: the
    cell-keyed join's hot partitions have tiny shuffle INPUT (one urban
    cell ~10^3 rows) but quadratic output, so AQE's skew-join split —
    which keys on input bytes — never fires and the whole urban
    pair-explosion runs as one straggler task (measured: 50k rows at
    cap=1024 spent ~4 min in 2 tasks). With join_salt=S the candidate
    pool is hash-split S ways and anchors replicate S×, spreading each
    hot cell's OUTPUT over S tasks; the pair set is unchanged and the
    min-struct agg composes exactly, so the result is bit-identical at
    any S (test_triplets).

    ``anchors`` (default ``pts``) are the rows that get a positive; the
    candidate pool is always drawn from ``pts`` (see :func:`knn_topk`).

    Output: (anchor_id, positive_id, sdist).
    """
    if anchors is None:
        anchors = pts
    a = anchors.select(F.col(id_col).alias("anchor_id"),
                       F.col(lat_col).alias("a_lat"),
                       F.col(lon_col).alias("a_lon"),
                       F.col(cell_col).alias("a_cell"))
    a = kring_explode(a, "a_cell", res, k=1, out_col="nb_cell")
    cand_pool = pts.select(F.col(id_col).alias("positive_id"),
                           F.col(lat_col).alias("p_lat"),
                           F.col(lon_col).alias("p_lon"),
                           F.col(cell_col).alias("c_cell"))
    if anchors is not pts:
        cand_pool = _in_ring_cells(cand_pool, a)
    cand_pool = percell_cap(cand_pool, cell_col="c_cell",
                            id_col="positive_id", cap=cap, seed=seed)
    join_cond = F.col("nb_cell") == F.col("c_cell")
    if join_salt > 1:
        cand_pool = cand_pool.withColumn(
            "_js", _id_hash_col("positive_id", seed + 7, join_salt)
            .cast("int"))
        salts = pts.sparkSession.range(join_salt) \
                   .select(F.col("id").cast("int").alias("_as"))
        a = a.crossJoin(F.broadcast(salts))
        join_cond = join_cond & (F.col("_as") == F.col("_js"))
    # SQUARED distance on the 38M-pair hot path: sqrt is monotone, so
    # argmin is identical, and the sqrt runs once per anchor (post-agg)
    # instead of once per candidate pair.
    j = (a.join(cand_pool, join_cond)
          .filter(F.col("anchor_id") != F.col("positive_id"))
          .withColumn("sq", F.expr(
              "(a_lat - p_lat) * (a_lat - p_lat) "
              "+ (a_lon - p_lon) * (a_lon - p_lon)")))
    # top-1 via min(struct(...)): lexicographic struct min == (dist, id)
    # ordering, and — unlike a row_number window — it partial-aggregates
    # map-side, so the shuffle carries one row per (anchor, partition)
    # instead of every candidate pair.
    best = (j.groupBy("anchor_id")
             .agg(F.min(F.struct("sq", "positive_id")).alias("m")))
    return best.select("anchor_id", F.col("m.positive_id").alias("positive_id"),
                       F.round(F.sqrt("m.sq"), 9).alias("sdist"))


def triplet_table_spatial(pts: DataFrame, *, id_col: str, lat_col: str,
                          lon_col: str, cell_col: str, res: int,
                          n_neg: int = 5, cap: int = 256,
                          seed: int = 42, join_salt: int = 1,
                          anchors: DataFrame | None = None) -> DataFrame:
    """Full scalable triplet table over an images-shaped input:
    spatial positive + far-cell negatives. This is the path the
    throughput bench measures (BASELINE.json metric).

    ``anchors`` (a subset of ``pts``, default all of it) are the rows
    that get a triplet; positives and negatives are drawn from all of
    ``pts``, so each anchor's row equals the full table's."""
    pos = spatial_positive(pts, id_col=id_col, lat_col=lat_col,
                           lon_col=lon_col, cell_col=cell_col, res=res,
                           cap=cap, seed=seed, join_salt=join_salt,
                           anchors=anchors)
    neg = negative_sample_farcell_pooled(
        pts, id_col=id_col, cell_col=cell_col, res=res, n_neg=n_neg,
        seed=seed, anchors=anchors)
    negs = (neg.groupBy("anchor_id")
               .agg(F.sort_array(F.collect_list(
                   F.struct("rank", "neg_id"))).alias("s"))
               .select("anchor_id", F.col("s.neg_id").alias("negative_ids")))
    rows = (pts if anchors is None else anchors).select(
        F.col(id_col).alias("anchor_id"), F.col(cell_col).alias("cell"))
    return (rows.join(pos.select("anchor_id", "positive_id"),
                      "anchor_id", "left")
                .join(negs, "anchor_id", "left"))


def negative_sample_farcell_pooled(pts: DataFrame, *, id_col: str,
                                   cell_col: str, res: int, n_neg: int = 5,
                                   ring: int = 1, seed: int = 42,
                                   pool_size: int = 4096,
                                   fanout: int = 8,
                                   anchors: DataFrame | None = None
                                   ) -> DataFrame:
    """Far-cell negatives, linear-in-N scale path.

    A bucket join of anchors against all rows (the ``negative_farcell``
    oracle in :mod:`loc2vec_spark.queries`) materializes N^2/B candidate
    pairs — quadratic, fine for oracle-scale tables, fatal at 10^12
    rows. Here a fixed-size seeded pool (~``pool_size`` rows,
    chosen by a deterministic id-hash threshold against an exact count) is
    broadcast; each anchor meets only ``fanout * n_neg`` pool members
    (bucket equi-join against the broadcast side -> no shuffle at all),
    filters the ones inside its k-ring, and keeps a seeded top ``n_neg``.
    Work is O(N * fanout * n_neg): the same plan at 10^12 rows broadcasts
    the same few thousand pool rows.

    ``anchors`` (default ``pts``) are the rows that get negatives; the
    pool and its size are always drawn from ``pts``.

    Output: (anchor_id, rank, neg_id) — deterministic at any parallelism.
    """
    n = 1 << res
    total = pts.count()  # one cheap job; drives the sampling threshold
    pool_size = min(pool_size, total)
    # deterministic uniform pool: smallest pool_size id-hashes (exact, via
    # a global sort-limit on a tiny projected frame)
    hashed = pts.select(
        F.col(id_col).alias("neg_id"),
        F.expr(cells.cell_i_sql(cell_col)).alias("ni"),
        F.expr(cells.cell_j_sql(cell_col)).alias("nj"),
        _id_hash_col(id_col, seed + 7, 2_000_000_011).alias("ph"))
    pool = hashed.orderBy("ph", "neg_id").limit(pool_size)
    n_buckets = max(1, pool_size // (fanout * n_neg))
    pool = pool.withColumn(
        "bkt", _id_hash_col("neg_id", seed + 1, n_buckets)) \
        .select("neg_id", "ni", "nj", "bkt",
                _id_hash_col("neg_id", seed + 2, 1_000_000_007).alias("ord"))

    a = (pts if anchors is None else anchors).select(
        F.col(id_col).alias("anchor_id"),
        F.expr(cells.cell_i_sql(cell_col)).alias("ai"),
        F.expr(cells.cell_j_sql(cell_col)).alias("aj"),
        _id_hash_col(id_col, seed, n_buckets).alias("bkt"))
    far = (f"GREATEST(LEAST(ABS(ai - ni), {n} - ABS(ai - ni)), "
           f"ABS(aj - nj)) > {ring}")
    cand = (a.join(F.broadcast(pool), "bkt")
             .filter(F.col("anchor_id") != F.col("neg_id"))
             .filter(F.expr(far)))
    # row_number window, deliberately: Spark 4 plans it as
    # WindowGroupLimit (map-side top-k pruning before the shuffle), which
    # measured ~7x faster than a collect_list/array_sort aggregation here.
    w = Window.partitionBy("anchor_id").orderBy("ord", "neg_id")
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= n_neg)
                .select("anchor_id", "rank", "neg_id"))
