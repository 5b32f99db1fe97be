"""Driver-contract query registry (SURVEY.md §2 operator inventory).

Every entry is one operator re-expressed Spark-first, with a DuckDB oracle.
Strategy: wherever possible the Spark query and the oracle share the SAME
SQL text (common dialect: CTEs, window functions, CASE, EXCEPT/INTERSECT,
ROLLUP...), built from the same fragment builders in
:mod:`loc2vec_spark.cells` / :mod:`loc2vec_spark.functions` — identical
arithmetic in identical order means bit-identical doubles and a clean
value-hash match. Engine-specific differences (0- vs 1-based array
indexing, tokenizer syntax) are isolated in per-engine fragments.

Aggregates over doubles go through exact DECIMAL sums where a float
fold-order difference between engines could flip a value-hash, and every
emitted float is ROUND()ed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from . import cells
from .functions import (DUCKDB_BASE, SPARK_BASE, cosine_sql, euclid_sql,
                        triplet_margin_sql)
from .operators.geo import derived_latlon_sql

DIM = 64  # embeddings.parquet embedding dimension (all testdata SFs)
RES = 7


# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

_LAT, _LON = derived_latlon_sql("vec_id")

# embeddings + derived skewed location (oracle-suite stand-in for the
# caption-derived lat/lon of the images table — see derived_latlon_sql)
PTS = f"pts AS (SELECT vec_id, embedding, {_LAT} AS lat, {_LON} AS lon FROM embeddings)"

_I7, _J7 = cells.ij_sql("lat", "lon", RES)
CPTS = (f"cpts AS (SELECT vec_id, embedding, "
        f"{cells.cell_sql('lat', 'lon', RES)} AS cell, "
        f"{_I7} AS ci, {_J7} AS cj FROM pts)")


def _values_union(rows: list[tuple], cols: list[str]) -> str:
    """Portable inline table (Spark's VALUES alias syntax differs from
    DuckDB's, UNION ALL of literal SELECTs parses in both)."""
    first = "SELECT " + ", ".join(
        f"{v} AS {c}" for v, c in zip(rows[0], cols))
    rest = [" SELECT " + ", ".join(str(v) for v in r) for r in rows[1:]]
    return first + " UNION ALL" + " UNION ALL".join(rest)


OFFS = ("offs AS (" + _values_union(
    [(di, dj) for dj in (-1, 0, 1) for di in (-1, 0, 1)], ["di", "dj"]) + ")")

_NB = cells.neighbor_sql("ci", "cj", "di", "dj", RES)
_N7 = 1 << RES

_KNUTH = 2654435761


def _h(expr: str, seed: int, mod) -> str:
    """Portable seeded hash -> [0, mod). ``mod`` may be an int or SQL text.

    The input is reduced mod ``mod`` BEFORE the Knuth multiply:
    ``((x % m) * K + s) % m == ((x * K + s) % m)`` exactly, but the
    pre-reduced form cannot overflow int64 for inputs above ~3.5e9
    (e.g. md5-derived int48 keys) where the raw product silently wraps
    in non-ANSI Spark and throws under ANSI — the same double-mod
    discipline as operators/bloom.py (r2 advice)."""
    return (f"((((({expr}) % ({mod})) * {_KNUTH} + {seed}) % ({mod}) "
            f"+ ({mod})) % ({mod}))")


# ---------------------------------------------------------------------------
# registry plumbing
# ---------------------------------------------------------------------------

@dataclass
class Q:
    """One operator: how to run it on Spark + its DuckDB oracle."""
    tables: tuple[str, ...]
    spark_sql: Optional[str] = None            # run via spark.sql
    duck_sql: Optional[str] = None             # oracle; None => rows-only
    fn: Optional[Callable] = None              # python impl (overrides sql)
    doc: str = ""


QUERIES: dict[str, Q] = {}


def _reg(name: str, q: Q) -> None:
    assert name not in QUERIES
    QUERIES[name] = q


def _shared(name: str, tables: tuple[str, ...], sql: str, doc: str = "",
            duck_sql: str | None = None) -> None:
    """Register a query whose Spark text and oracle text are identical
    (or differ only in the supplied duck_sql override)."""
    _reg(name, Q(tables=tables, spark_sql=sql,
                 duck_sql=duck_sql if duck_sql is not None else sql,
                 doc=doc))


# ---------------------------------------------------------------------------
# driver-window order (round-4 rotation)
# ---------------------------------------------------------------------------
# The round driver's correctness sweep records only the FIRST ~50
# registry entries, so the dict order is part of the driver contract.
# Rounds 1-2 driver-verified the 37 §2-contract queries plus the first
# 13 training-data-pipeline queries (all 50 green in
# CORRECTNESS_r02.json). Round 3 rotated those 13 pipeline slots out in
# favor of 13 never-driver-checked extras (all 50 green in
# CORRECTNESS_r03.json). Round 4 completes the coverage sweep: the 13
# r3 rotation-ins (now driver-proven) plus 11 twice-driver-green
# trivial scalar/set slots rotate out, and the final 24 queries that
# have never appeared in any CORRECTNESS window rotate in — after this
# round every registered oracle-backed query has driver-green evidence
# in at least one round (tests/test_registry.py pins that union).
# Registration still happens module-by-module in the order the modules
# complete; _finalize_window_order() then re-keys the dict into this
# declared order once every window name is present, so the window is
# import-order independent BY CONSTRUCTION rather than by carefully
# sequenced completion hooks (tests/test_registry.py asserts full-order
# equality across all five public entry points).
ROTATED_OUT_R3: tuple[str, ...] = (
    # driver-green in CORRECTNESS_r02; still oracle-checked every round
    # by tools/check_oracles.py, just past the driver's ~50-slot window
    "dedup_exact", "text_fingerprint", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_minhash_sig", "dedup_simhash",
    "dedup_embedding", "dedup_components", "ann_bruteforce",
    "ann_lsh_bucket", "ann_lsh_multiprobe", "text_quality",
    "text_langid",
)

ROTATED_OUT_R4: tuple[str, ...] = (
    # the 13 round-3 rotation-ins, driver-green in CORRECTNESS_r03
    "kmeans_latlon", "asof_events", "range_events", "dedup_phash",
    "dedup_incremental", "dedup_bloom", "vocab_topk", "pack_sequences",
    "bm25_score", "pagerank_cells", "getis_gi", "a12_regression",
    "stratified_sample",
    # 11 §2-contract scalar/set slots, driver-green in BOTH r02 and r03
    "cell_parent", "t2_intersect", "t3_union", "a1_counts", "a2_stats",
    "a4_minmax", "a1_equal_cardinality", "w3_global_sort",
    "w4_batch_bucket", "w5_lag_lead", "f1_string",
)

ROTATED_OUT_R5: tuple[str, ...] = (
    # driver-green in CORRECTNESS_r04 (and mirror-green every round via
    # tools/check_oracles.py); their slots go to the round-5 queries
    "focal_stats", "geom_stats", "traj_stats", "w6_ranks", "a9_cube",
    "a10_multidistinct", "a11_percentiles",
    # late-r5 additions' slots — all r4-green, their op families keep
    # window coverage (F12 cell math via tile_assign/kring_expand/
    # zorder_locality; data-quality via profile_stats; event windows
    # via events_funnel; text quality via text_pii_scrub)
    "quadkey_assign", "dist_drift", "events_sliding", "text_repetition",
    # corpus slots — both r4-green (the whole corpus family is now
    # out-of-window with multi-round green evidence; mirror-checked
    # every round by tools/check_oracles.py)
    "mix_sources", "doc_rarity",
    # corpus decontamination slot — r4-green
    "decontaminate",
    # PIP scale-path slot — r4-green; family keeps the pinned
    # pip_exact + pip_bbox in-window
    "pip_cellcover",
    # late-r5 third wave slots — all three r4-green; data-quality,
    # corpus, and ANN coverage continue via the every-round mirror
    # check (ann recall also rides every bench session)
    "profile_stats", "dedup_spanfrac", "ann_ivf",
    # IVF-blocked embedding-dedup slot — r4-green (ann_ivf later
    # rotates out too, in the third wave below)
    "dedup_embedding_ivf",
    # late-r5 second wave: four trajectory/map-match ins take these
    # r4-green slots — events family keeps events_tumbling/sessionize
    # (pinned); storage F12 keeps tile_assign/kring_expand (pinned);
    # spatial-stats keeps the four new geo faces; text keeps the
    # pinned text faces
    "events_funnel", "zorder_locality", "morans_i", "leakfree_split",
    # image_quality's slot — r4-green (pii_scrub stays
    # mirror-checked every round)
    "text_pii_scrub",
)

ROTATED_IN_R5: tuple[str, ...] = (
    # never hash-checked by the driver before round 5: the two raster
    # faces gained DuckDB oracles this round (decoded-pixel checksums —
    # their r01 appearance was the weaker rows-only check); the crawl
    # front door (WARC + HTML), the GROUPING SETS face, and the AV
    # near-dup pair are new
    "raster_assembly", "pyramid_rollup", "html_text_extract",
    "warc_records", "a13_grouping_sets", "dedup_video", "dedup_audio",
    # late-r5: H3 compact_cells analog + SemDeDup policy verdicts +
    # grid DBSCAN clustering + geohash interop ids + radius join
    "cells_compact", "semdedup", "dbscan_cells", "geohash_assign",
    "dwithin_join", "stay_points", "od_flows", "colocation_pairs",
    "exif_gps",
    # late-r5 second wave: trajectory cleaning/resampling/similarity +
    # map matching (never driver-checked before)
    "traj_spike_filter", "traj_resample", "map_match",
    "hausdorff_pairs",
    # image-quality gates on real encoded PNGs vs closed-form oracle
    "image_quality",
    # late-r5 third wave: exact-integer linestring-intersection join +
    # IDW spatial interpolation + the real-PNG thumbnail face (never
    # driver-checked before)
    "segment_intersections", "idw_interpolate", "image_resize",
)

DRIVER_WINDOW: tuple[str, ...] = (
    # --- 26 pinned §2 flagship queries, relative order unchanged ---
    "tile_assign", "tile_rollup", "kring_expand",
    "knn_topk", "knn_nearest", "triplet_margin", "negative_farcell",
    "negative_compat", "pip_bbox", "j1_multiway", "j3_semi", "j3_anti",
    "t1_symdiff", "a3_sliding", "a5_histogram", "p6_zscore",
    "w1_topk", "w2_seeded_pick",
    "f2_json_date", "f3_f7_distances", "f9_array_var",
    "events_tumbling", "a6_cov", "a8_cosine_mean", "events_sessionize",
    "pip_exact",
    # --- round-5 rotation-ins ---
    *ROTATED_IN_R5,
)


def _finalize_window_order() -> None:
    """Re-key QUERIES so DRIVER_WINDOW comes first, everything else in
    its existing relative order. No-op until every window name has
    registered (exotic first-import paths finish registration in a
    module-bottom completion hook, which calls this again)."""
    if not all(n in QUERIES for n in DRIVER_WINDOW):
        return
    window = set(DRIVER_WINDOW)
    rest = [n for n in QUERIES if n not in window]
    ordered = {n: QUERIES[n] for n in (*DRIVER_WINDOW, *rest)}
    QUERIES.clear()
    QUERIES.update(ordered)


def run_spark(spark, sf_dir: str, name: str):
    q = QUERIES[name]
    for t in q.tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet") \
            .createOrReplaceTempView(t)
    if q.fn is not None:
        return q.fn(spark, sf_dir)
    return spark.sql(q.spark_sql)


# ===========================================================================
# 1. Tile assignment + kNN (flagship path: F12, J5, W1, W2)
# ===========================================================================

_shared("tile_assign", ("embeddings",), f"""
WITH {PTS}
SELECT vec_id, lat, lon,
       {cells.cell_sql('lat', 'lon', 5)} AS cell_r5,
       {cells.cell_sql('lat', 'lon', 7)} AS cell_r7,
       {cells.cell_sql('lat', 'lon', 9)} AS cell_r9
FROM pts
""", doc="F12: multi-resolution cell assignment (SURVEY.md §1.4)")

_shared("tile_rollup", ("embeddings",), f"""
WITH {PTS},
c AS (SELECT {cells.cell_sql('lat', 'lon', 5)} AS cell_r5,
             {cells.cell_sql('lat', 'lon', 7)} AS cell_r7 FROM pts)
SELECT cell_r5, cell_r7, COUNT(*) AS n
FROM c GROUP BY ROLLUP(cell_r5, cell_r7)
""", doc="A-extra: multi-resolution tile rollup (SURVEY.md §2.4 note)")

_shared("cell_parent", ("embeddings",), f"""
WITH {PTS},
c AS (SELECT vec_id, {cells.cell_sql('lat', 'lon', 9)} AS cell_r9 FROM pts)
SELECT vec_id, cell_r9, {cells.parent_sql('cell_r9', 9, 5)} AS cell_r5
FROM c
""", doc="F12: cell_to_parent coarsening")

_shared("kring_expand", ("embeddings",), f"""
WITH {PTS}, {CPTS}, {OFFS}
SELECT vec_id, {_NB} AS nb_cell
FROM cpts CROSS JOIN offs
WHERE cj + dj BETWEEN 0 AND {_N7 - 1}
""", doc="F12/J5: k-ring expansion (explode over offset stencil)")


def _knn_sql(base: int, k: int = 5) -> str:
    # the REPARTITION hint parallelizes the broadcast-join probe side:
    # the testdata parquet is one file -> one scan partition, and the
    # 855k-pair distance evaluation would otherwise run as a single task
    # (measured 6.4s -> 1.0s at local[32]). DuckDB reads it as a comment.
    return f"""
WITH {PTS}, {CPTS}, {OFFS},
nb AS (SELECT /*+ REPARTITION(64) */ vec_id AS anchor_id,
              embedding AS a_emb, {_NB} AS nb_cell
       FROM cpts CROSS JOIN offs
       WHERE cj + dj BETWEEN 0 AND {_N7 - 1}),
cand AS (SELECT nb.anchor_id, c.vec_id AS neighbor_id,
                {euclid_sql('nb.a_emb', 'c.embedding', DIM, base)} AS dist
         FROM nb JOIN cpts c ON nb.nb_cell = c.cell
         WHERE c.vec_id <> nb.anchor_id),
ranked AS (SELECT anchor_id, neighbor_id, dist,
                  ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY dist, neighbor_id) AS knn_rank
           FROM cand)
SELECT anchor_id, knn_rank, neighbor_id, ROUND(dist, 6) AS dist
FROM ranked WHERE knn_rank <= {k}
"""


_reg("knn_topk", Q(tables=("embeddings",),
                   spark_sql=_knn_sql(SPARK_BASE),
                   duck_sql=_knn_sql(DUCKDB_BASE),
                   doc="J5+W1 flagship: cell-blocked kNN (replaces the "
                       "reference's O(n^2) matrix, triplet_mining.py:103-114)"))

_reg("knn_nearest", Q(tables=("embeddings",),
                      spark_sql=_knn_sql(SPARK_BASE, k=1),
                      duck_sql=_knn_sql(DUCKDB_BASE, k=1),
                      doc="J5 k=1: as-of-style nearest neighbor"))


def _triplet_sql(base: int) -> str:
    d_ip = euclid_sql("i.embedding", "p.embedding", DIM, base)
    d_in = euclid_sql("i.embedding", "n.embedding", DIM, base)
    d_pn = euclid_sql("p.embedding", "n.embedding", DIM, base)
    return f"""
SELECT i.vec_id AS anchor_id,
       ROUND({d_ip}, 6) AS d_ip,
       ROUND({d_in}, 6) AS d_in,
       ROUND({d_pn}, 6) AS d_pn,
       ROUND({triplet_margin_sql(d_ip, d_in, d_pn, 1.0)}, 6) AS margin_score
FROM embeddings i
JOIN embeddings p ON p.vec_id = i.vec_id + 1
JOIN embeddings n ON n.vec_id = i.vec_id + 2
"""


_reg("triplet_margin", Q(tables=("embeddings",),
                         spark_sql=_triplet_sql(SPARK_BASE),
                         duck_sql=_triplet_sql(DUCKDB_BASE),
                         doc="F3-F6: triplet margin score as one expression "
                             "tree (loc2vec_nn.py:120-151)"))

_shared("negative_farcell", ("embeddings",), f"""
WITH {PTS}, {CPTS},
a AS (SELECT vec_id AS anchor_id, ci, cj, {_h('vec_id', 42, 64)} AS bkt
      FROM cpts),
c AS (SELECT vec_id AS neg_id, ci AS ni, cj AS nj, {_h('vec_id', 43, 64)} AS bkt
      FROM cpts),
cand AS (SELECT anchor_id, neg_id FROM a JOIN c USING (bkt)
         WHERE anchor_id <> neg_id
           AND GREATEST(LEAST(ABS(ci - ni), {_N7} - ABS(ci - ni)),
                        ABS(cj - nj)) > 1),
ranked AS (SELECT anchor_id, neg_id,
                  ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY {_h('neg_id', 44, 1000000007)},
                                              neg_id) AS neg_rank
           FROM cand)
SELECT anchor_id, neg_rank, neg_id FROM ranked WHERE neg_rank <= 5
""", doc="J4 far-cell mode: seeded bucket-join negatives outside the k-ring "
         "(upgrades data_loading.py:109-112)")

_shared("negative_compat", ("embeddings",), f"""
WITH idx AS (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rn
             FROM embeddings),
lim AS (SELECT COUNT(*) AS total FROM embeddings),
anch AS (SELECT vec_id AS anchor_id, rn,
                CAST(FLOOR(rn / 16) AS BIGINT) AS b, rn % 16 AS p
         FROM idx CROSS JOIN lim
         WHERE rn < CAST(FLOOR(total / 16) AS BIGINT) * 16),
off AS (SELECT anchor_id, b, p,
               {_h('b', 42, 'total - 16 + 1')} + p AS neg_rn
        FROM anch CROSS JOIN lim)
SELECT o.anchor_id, i.vec_id AS neg_id
FROM off o JOIN idx i ON o.neg_rn = i.rn
""", doc="J4 compat mode: the reference's contiguous-block negatives with "
         "remainder drop (data_loading.py:101-112), seeded + deterministic")

_shared("pip_bbox", ("embeddings", "nation"), f"""
WITH {PTS},
boxes AS (SELECT n_nationkey AS box_id,
                 {derived_latlon_sql('n_nationkey')[0]} AS blat,
                 {derived_latlon_sql('n_nationkey')[1]} AS blon
          FROM nation)
SELECT p.vec_id, b.box_id
FROM pts p JOIN boxes b
  ON p.lat BETWEEN b.blat - 1.0E0 AND b.blat + 1.0E0
 AND p.lon BETWEEN b.blon - 1.0E0 AND b.blon + 1.0E0
""", doc="J6 bbox theta-join: the SQL-expressible oracle face of the "
         "broadcast R-tree PIP join")


# ===========================================================================
# 2. Joins / set ops on the star schema (J1, J3, T1-T3)
# ===========================================================================

_shared("j1_multiway", ("orders", "customer", "nation", "region"), """
SELECT r.r_name AS region, o.o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, o.o_orderpriority
""", doc="J1: multi-way equi-join (channel-align analog, "
         "data_loading.py:154-164); dims broadcast by Catalyst")

# j3/t1 key on URGENT-order membership, not bare custkey: in the driver's
# testdata EVERY customer has an order (and every part a lineitem), so the
# unrestricted anti/symdiff match on 0 rows — a vacuous oracle (VERDICT r1
# "wrong" #3). Urgent-vs-high membership splits both ways (measured
# sf0.01: semi 1297, anti 203, symdiff several hundred per direction).

_shared("j3_semi", ("customer", "orders"), """
SELECT c_custkey, c_nationkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT')
""", doc="J3: semi-join keep-set (squeeze, data_loading.py:191-202)")

_shared("j3_anti", ("customer", "orders"), """
SELECT c_custkey, c_nationkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
""", doc="J3: anti-join drop-set (remove_uncommon, "
         "trainset_validation.py:18-47)")

_shared("t1_symdiff", ("customer", "orders"), """
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_orderpriority = '1-URGENT'),
     b AS (SELECT DISTINCT o_custkey AS k FROM orders
           WHERE o_orderpriority = '2-HIGH')
SELECT k FROM a WHERE k NOT IN (SELECT k FROM b)
UNION
SELECT k FROM b WHERE k NOT IN (SELECT k FROM a)
""", doc="T1: symmetric difference (trainset_validation.py:20-22)")

_shared("t2_intersect", ("customer", "orders"), """
SELECT c_custkey AS k FROM customer
INTERSECT
SELECT o_custkey AS k FROM orders
""", doc="T2: intersection keep-set (data_loading.py:193-194)")

_shared("t3_union", ("lineitem", "supplier"), """
SELECT k, COUNT(*) AS n FROM (
  SELECT l_suppkey AS k FROM lineitem
  UNION ALL
  SELECT s_suppkey AS k FROM supplier
) u GROUP BY k
""", doc="T3: union/flatten (chain.from_iterable, data_loading.py:163)")


# ===========================================================================
# 3. Aggregations (A1-A5, P6)
# ===========================================================================

_shared("a1_counts", ("lineitem",), """
SELECT l_returnflag, COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_returnflag
""", doc="A1: count per group (data_loading.py:144-148)")

_shared("a2_stats", ("lineitem",), """
SELECT l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS mean_qty,
       ROUND(VAR_POP(l_quantity), 6) AS var_qty,
       ROUND(STDDEV_POP(l_quantity), 6) AS std_qty
FROM lineitem GROUP BY l_linestatus
""", doc="A2: mean/variance (triplet_mining.py:116-124,132-134); mean via "
         "exact decimal sum")

_shared("a3_sliding", ("orders",), """
SELECT o_custkey, o_orderkey,
       ROUND(AVG(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS avg_last5
FROM orders
""", doc="A3/W5: sliding-frame mean (early-stop window, "
         "loc2vec_train.py:76,85)")

_shared("a4_minmax", ("lineitem",), """
SELECT l_returnflag,
       MAX(l_extendedprice) AS max_price,
       MIN(l_extendedprice) AS min_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
           AS mean_price,
       LEAST(MAX(l_tax), MAX(l_discount)) AS least_demo
FROM lineitem GROUP BY l_returnflag
""", doc="A4+F4: min/max/mean reductions + rowwise least "
         "(loc2vec_nn.py:141-149)")

_shared("a5_histogram", ("lineitem",), """
SELECT CAST(FLOOR(l_extendedprice / 1000.0E0) AS BIGINT) AS bucket,
       COUNT(*) AS n
FROM lineitem GROUP BY CAST(FLOOR(l_extendedprice / 1000.0E0) AS BIGINT)
""", doc="A5: histogram / skew detector (trainset_validation.py:49-59) — "
         "feeds the hot-cell salt-factor chooser")

_shared("p6_zscore", ("lineitem",), """
WITH s AS (SELECT l_returnflag,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m2
  FROM lineitem GROUP BY l_returnflag)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag
FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
WHERE ABS(l.l_quantity - s.m) / SQRT(s.m2 - s.m * s.m) > 1.65E0
""", doc="P6: z-score outlier filter (triplet_mining.py:126-135); moments "
         "via exact decimal sums so both engines agree bitwise. Threshold "
         "1.65: l_quantity is uniform(1,50), so |z| is bounded by ~1.70 "
         "and the r1 threshold of 2.4 matched on an EMPTY result "
         "(VERDICT r1 'wrong' #3); 1.65 selects ~4% of rows (2325 at "
         "sf0.01). Both engines compare the same doubles (decimal "
         "moments), so the cut is engine-stable wherever it lands")

_shared("a1_equal_cardinality", ("lineitem",), """
SELECT COUNT(DISTINCT cnt) AS n_distinct_counts FROM (
  SELECT l_linenumber, COUNT(*) AS cnt FROM lineitem GROUP BY l_linenumber
) t
""", doc="P5: equal-cardinality check (data_loading.py:174-175) as a "
         "grouped-count-distinct")


# ===========================================================================
# 4. Windows / sorts / top-k (W1-W5)
# ===========================================================================

_shared("w1_topk", ("orders",), """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) t
WHERE rnk <= 3
""", doc="W1: top-k per group (triplet_mining.py:143-146)")

_shared("w2_seeded_pick", ("orders",), f"""
WITH topk AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders)
SELECT o_custkey, o_orderkey FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY {_h('o_orderkey', 42, 1000000007)},
                                     o_orderkey) AS pick
  FROM topk WHERE rnk <= 3) p
WHERE pick = 1
""", doc="W2: seeded random pick within top-k (triplet_mining.py:147; "
         "reference unseeded random -> engine pins seed)")

# NOTE: this face (and the single-row global aggregates) trips Spark's
# "No Partition Defined for Window operation" WARN when the oracle
# harness evaluates related whole-table windows — EXPECTED at oracle
# scale (sf0.01): global-sort semantics are exactly what is under test.
# Production paths never use an unpartitioned window (PLANS.md asserts
# every hot-path window is partitioned; the global sort itself compiles
# to TakeOrderedAndProject here, not a window).
_shared("w3_global_sort", ("lineitem",), """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
""", doc="W3: global sort + limit (triplet_mining.py:145)")

_shared("w4_batch_bucket", ("orders",), """
SELECT CAST(FLOOR((rn - 1) / 100) AS BIGINT) AS batch_id, COUNT(*) AS n,
       MIN(o_orderkey) AS first_key
FROM (SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders) t
GROUP BY CAST(FLOOR((rn - 1) / 100) AS BIGINT)
""", doc="W4: batch-cursor bucketing (data_loading.py:61-77 compat)")

_shared("w5_lag_lead", ("orders",), """
SELECT o_custkey, o_orderkey,
       LAG(o_totalprice) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev_price,
       LEAD(o_totalprice) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS next_price,
       RANK() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC) AS price_rank
FROM orders
""", doc="W-extra: lag/lead/rank (SURVEY.md §2.5 note — kNN tie knob)")


# ===========================================================================
# 5. Scalar functions (F1-F9, date/JSON)
# ===========================================================================

_shared("f1_string", ("documents",), """
SELECT doc_id,
       SUBSTRING(text, 1, 12) AS prefix,
       LENGTH(text) AS n_len,
       UPPER(lang) AS lang_u,
       REPLACE(SUBSTRING(text, 1, 20), ' ', '_') AS underscored
FROM documents
""", doc="F1/F2: string strip/slice ops (loc2vec_run.py:27, "
         "triplet_mining.py:93)")

# NOTE on integer SUMs in oracle output columns: DuckDB promotes SUM over
# any integer type to HUGEINT (int128). fetchall() hides this (python
# ints), but an arrow/pandas transfer — which the round driver uses —
# renders HUGEINT as float64/decimal and the value hash diverges from
# Spark's int64 ("104136779227166" vs "1.04137e+14"). CORRECTNESS_r01's
# only two hash_match:false rows (f2_json_date, text_fingerprint) were
# exactly the two queries with a naked integer-SUM output column; every
# CAST-wrapped SUM passed. Hence: every integer SUM that reaches an
# output column is CAST(... AS BIGINT) in BOTH dialects (no-op on Spark).
# tools/check_types.py cross-checks arrow types to keep this invariant.
_reg("f2_json_date", Q(
    tables=("events",),
    spark_sql="""
SELECT CAST(FLOOR(unix_timestamp(ts) / 86400.0E0) AS BIGINT) AS day_epoch,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k
FROM events GROUP BY 1, 2
""",
    duck_sql="""
SELECT CAST(FLOOR(epoch(ts) / 86400.0E0) AS BIGINT) AS day_epoch,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_k
FROM events GROUP BY 1, 2
""",
    doc="date/JSON scalar coverage over events (SURVEY.md §2.7 note)"))


def _pairs_sql(base: int) -> str:
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({euclid_sql('a.embedding', 'b.embedding', DIM, base)}, 6)
           AS euclid,
       ROUND({cosine_sql('a.embedding', 'b.embedding', DIM, base)}, 6)
           AS cosine
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
"""


_reg("f3_f7_distances", Q(tables=("embeddings",),
                          spark_sql=_pairs_sql(SPARK_BASE),
                          duck_sql=_pairs_sql(DUCKDB_BASE),
                          doc="F3+F7: Euclidean + cosine on array columns "
                              "(loc2vec_nn.py:138-140, "
                              "trainset_validation.py:71-77)"))


def _var_sql(base: int) -> str:
    from .functions import array_var_sql
    return f"""
SELECT vec_id, ROUND({array_var_sql('embedding', DIM, base)}, 6) AS emb_var
FROM embeddings
"""


_reg("f9_array_var", Q(tables=("embeddings",),
                       spark_sql=_var_sql(SPARK_BASE),
                       duck_sql=_var_sql(DUCKDB_BASE),
                       doc="F9: rowwise variance of an array column "
                           "(triplet_mining.py:116-124)"))


# ===========================================================================
# 6. Streaming-analog: tumbling window over events (§2.8)
# ===========================================================================

_reg("events_tumbling", Q(
    tables=("events",),
    spark_sql="""
SELECT CAST(FLOOR(unix_timestamp(ts) / 600.0E0) AS BIGINT) * 600
           AS win_start_epoch,
       event_type, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4)))
                  AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
    duck_sql="""
SELECT CAST(FLOOR(epoch(ts) / 600.0E0) AS BIGINT) * 600 AS win_start_epoch,
       event_type, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4)))
                  AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
    doc="tumbling event-time window (batch face of the Structured "
        "Streaming path, SURVEY.md §2.8)"))


# ===========================================================================
# 7. A6/A8 coverage (SURVEY.md §2.4 notes)
# ===========================================================================

def _qdec(expr: str) -> str:
    """Quantize a float expression to DECIMAL(18,6) identically in both
    engines: ROUND in double first (same double -> same nearest 6dp
    decimal, no representable ties), then exact decimal arithmetic —
    fold-order-independent sums, so partial aggregation can't flip the
    value hash."""
    return f"CAST(ROUND(CAST({expr} AS DOUBLE), 6) AS DECIMAL(18,6))"


def _cov_sql(base: int) -> str:
    cols = ", ".join(f"{_qdec(f'embedding[{i + base}]')} AS x{i}"
                     for i in range(4))
    pairs = [(i, j) for i in range(4) for j in range(4) if i <= j]
    covs = ", ".join(
        f"ROUND(CAST(SUM(x{i} * x{j}) AS DOUBLE) / COUNT(*) "
        f"- (CAST(SUM(x{i}) AS DOUBLE) / COUNT(*)) "
        f"* (CAST(SUM(x{j}) AS DOUBLE) / COUNT(*)), 6) AS cov_{i}{j}"
        for i, j in pairs)
    return f"""
WITH f AS (SELECT vec_id, {cols} FROM embeddings)
SELECT COUNT(*) AS n, {covs} FROM f
"""


_reg("a6_cov", Q(tables=("embeddings",),
                 spark_sql=_cov_sql(SPARK_BASE),
                 duck_sql=_cov_sql(DUCKDB_BASE),
                 doc="A6: covariance-matrix entries (dims 0-3) via exact "
                     "decimal partial+final sums — the SQL face of the "
                     "PCA prestep (optim.py:53-62); full PCA = "
                     "operators/stats.py"))


def _cosmean_sql(base: int) -> str:
    cos = cosine_sql("a.embedding", "b.embedding", DIM, base)
    return f"""
WITH p AS (SELECT {_qdec(cos)} AS c
           FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
SELECT COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS mean_cosine
FROM p
"""


_reg("a8_cosine_mean", Q(tables=("embeddings",),
                         spark_sql=_cosmean_sql(SPARK_BASE),
                         duck_sql=_cosmean_sql(DUCKDB_BASE),
                         doc="A8: mean cosine similarity "
                             "(trainset_validation.py:74-77)"))


# ===========================================================================
# 8. Sessionization (gap-based session windows, batch face of §2.8)
# ===========================================================================

def _sessionize_sql(epoch_us_fn: str) -> str:
    """Gap-based sessions (30-min) via lag + running sum — the portable
    formulation of Spark's session_window, expressible in both engines.

    MICROSECOND epoochs throughout: second-truncated epochs would merge
    two events whose true gap is in (1800s, 1801s) that session_window
    splits (parquet timestamps carry micros). New-session condition is
    ``>=`` gap, matching session_window's exclusive window end (an event
    at exactly prev + gap starts a new session). Every ordering uses the
    same integer ``es`` so LAG and the running sum see one total order.
    session_no is CAST to BIGINT: DuckDB's windowed SUM over integers
    yields HUGEINT, which is driver-unstable (int-SUM note above).
    """
    return f"""
WITH o AS (SELECT user_id, event_id, {epoch_us_fn} AS es,
                  LAG({epoch_us_fn}) OVER (PARTITION BY user_id
                                           ORDER BY {epoch_us_fn},
                                                    event_id) AS prev_es
           FROM events),
m AS (SELECT user_id, event_id, es,
             CASE WHEN prev_es IS NULL OR es - prev_es >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM o),
s AS (SELECT user_id, event_id, es,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY es, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_no
      FROM m)
SELECT user_id, session_no, COUNT(*) AS n_events,
       MIN(es) AS session_start_us, MAX(es) AS session_end_us
FROM s GROUP BY user_id, session_no
"""


def _funnel_sql(us: str) -> str:
    """Ordered funnel (view -> click -> purchase), first-touch timing.

    The standard product-analytics sequence query (MATCH_RECOGNIZE /
    funnelytics class): stage N+1 counts only if it happens STRICTLY
    AFTER the user's first stage-N event. Three grouped MINs + two
    user-key equi-joins — every stage is partial-agg friendly and the
    joins shuffle on user_id only, so at 100 TB the plan is three
    map-side-combined aggs over the (already user-partitioned) event
    log. Microsecond-int arithmetic throughout (the proven
    events_sessionize formulation) — no floats anywhere.
    Registered late (queries_geo.register_raster) to keep the driver
    window's extras order append-only."""
    return f"""
WITH v AS (SELECT user_id, CAST(MIN({us}) AS BIGINT) AS t1
           FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, CAST(MIN({us}) AS BIGINT) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND {us} > v.t1
      GROUP BY e.user_id),
p AS (SELECT e.user_id, CAST(MIN({us}) AS BIGINT) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND {us} > c.t2
      GROUP BY e.user_id)
SELECT v.user_id,
       CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END
           AS reached_click,
       CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END
           AS reached_purchase,
       c.t2 - v.t1 AS us_view_to_click,
       p.t3 - v.t1 AS us_view_to_purchase
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
"""


_reg("events_sessionize", Q(
    tables=("events",),
    # ts is TIMESTAMP_NTZ in the parquet; session TZ is UTC so the
    # cast is an identity relabel and matches DuckDB's naive epoch_us
    spark_sql=_sessionize_sql("unix_micros(CAST(ts AS TIMESTAMP))"),
    duck_sql=_sessionize_sql("epoch_us(ts)"),
    doc="gap-based session windows (lag + running-sum formulation)"))


# ===========================================================================
# Suite registration order: since round 3 the driver-sweep order is NOT
# the registration order — _finalize_window_order() re-keys the dict to
# the declared DRIVER_WINDOW (26 pinned §2 flagship queries + the 24
# round-4 rotation-ins) once everything has registered. Module import order
# below still matters only in that every module must COMPLETE its
# registrations; the window itself is import-order independent
# (tests/test_registry.py).
# ===========================================================================

from . import queries_geo  # noqa: E402  (registers pip_exact)


# ===========================================================================
# 9. Extras beyond the §2 contract (may land past the driver's window)
# ===========================================================================
# Registered via a function that queries_text invokes at the BOTTOM of
# its module body. Rationale: these must register after queries_text's
# 13 contract-suite queries under EITHER import entry point. With plain
# top-level registration here, an entry point that imports queries_text
# first would run this module's body to completion while queries_text
# sits mid-import at its `from .queries import ...` line — the extras
# would then precede the whole text suite, silently pushing ~5 contract
# queries out of the driver's ~50-query correctness window. Deferring to
# a call at queries_text's bottom makes the order identical (contract ->
# text suite -> ann_ivf -> these extras -> raster) no matter which
# module is imported first; the guard makes stray double-calls no-ops.

def _asof_sql(base: int) -> str:
    """Inclusive backward as-of join via the union-tag + last_value
    window: ONE shuffle of |L|+|R| rows, no range-join blowup. Each
    click gets the latest prior-or-equal view's value per user; equal-ts
    views tie-break to the max event_id.
    Engine-specific only in the IGNORE NULLS placement; DuckDB's native
    ASOF JOIN independently cross-checks this in test_asof."""
    lv = ("LAST_VALUE(rv IGNORE NULLS)" if base == DUCKDB_BASE
          else "LAST_VALUE(rv) IGNORE NULLS")
    ts_us = "epoch_us(ts)" if base == DUCKDB_BASE \
        else "unix_micros(CAST(ts AS TIMESTAMP))"
    return f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, value AS rv, NULL AS lv, 0 AS side
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, event_id, NULL AS rv, value AS lv, 1 AS side
  FROM events WHERE event_type = 'click'),
filled AS (
  SELECT user_id, ts, event_id, lv, side,
         {lv} OVER (PARTITION BY user_id
                    ORDER BY ts, side, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS asof_view_value
  FROM tagged)
SELECT event_id, user_id, CAST({ts_us} AS BIGINT) AS ts_us,
       ROUND(lv, 6) AS click_value,
       ROUND(asof_view_value, 6) AS asof_view_value
FROM filled WHERE side = 1
"""


def _register_extras() -> None:
    if "w6_ranks" in QUERIES:
        return

    _reg("asof_events", Q(tables=("events",),
                          spark_sql=_asof_sql(SPARK_BASE),
                          duck_sql=_asof_sql(DUCKDB_BASE),
                          doc="as-of (temporal) join: each click joined "
                              "to the latest prior-or-equal view per "
                              "user — union-tag + last_value window, "
                              "one |L|+|R| shuffle, no range blowup"))

    def _range_windows_sql(base: int) -> str:
        """Per-(user, day) active window of 'view' events + the 'click'
        points — the shared prelude of both range_events faces."""
        us = "epoch_us(ts)" if base == DUCKDB_BASE \
            else "unix_micros(CAST(ts AS TIMESTAMP))"
        return f"""
win AS (SELECT user_id,
               CAST(FLOOR(CAST({us} AS DOUBLE) / 86400.0E6) AS BIGINT)
                   AS day,
               CAST(MIN({us}) AS BIGINT) AS start_us,
               CAST(MAX({us}) AS BIGINT) AS end_us
        FROM events WHERE event_type = 'view'
        GROUP BY 1, 2),
pts AS (SELECT event_id, user_id, CAST({us} AS BIGINT) AS ts_us
        FROM events WHERE event_type = 'click')
"""

    def _range_fn(spark, sf_dir):
        # Spark face: the BUCKETED operator (equi-join on (key, bucket),
        # exact filter after) — deliberately a different algorithm from
        # the oracle's theta join, so the hash match tests the bucketing
        from .operators.interval import range_join
        spark.sql(f"WITH {_range_windows_sql(SPARK_BASE).strip()} "
                  "SELECT * FROM win").createOrReplaceTempView("_rw")
        spark.sql(f"WITH {_range_windows_sql(SPARK_BASE).strip()} "
                  "SELECT * FROM pts").createOrReplaceTempView("_rp")
        out = range_join(spark.table("_rp"), spark.table("_rw"),
                         key_col="user_id", ts_col="ts_us",
                         start_col="start_us", end_col="end_us",
                         bucket_width=3_600_000_000)  # 1h buckets
        return out.select("event_id", "user_id", "day", "ts_us")

    _reg("range_events", Q(
        tables=("events",), fn=_range_fn,
        duck_sql=f"WITH {_range_windows_sql(DUCKDB_BASE).strip()} "
                 "SELECT p.event_id, p.user_id, w.day, p.ts_us "
                 "FROM pts p JOIN win w ON w.user_id = p.user_id "
                 "AND p.ts_us BETWEEN w.start_us AND w.end_us",
        doc="range (interval-containment) join: clicks inside the same "
            "user's daily view window — bucketed equi-join operator vs "
            "a plain theta-join oracle (different algorithms)"))

    # events_sliding: Spark's NATIVE sliding window() operator (TimeWindow
    # expansion inside Catalyst) vs an independent hop-explode oracle —
    # floor(epoch/hop) gives the latest hop; an event of a 600s/300s
    # window lies in exactly the k=0 and k=1 hop starts. Two genuinely
    # different algorithms must agree, which is the real assertion here
    # (the tumbling/session faces already pin the other two window
    # shapes, SURVEY.md §2.8). Same DECIMAL(18,4) quantization as
    # events_tumbling so partial-agg fold order can't flip the hash.
    _reg("events_sliding", Q(
        tables=("events",),
        spark_sql="""
SELECT CAST(unix_timestamp(window.start) AS BIGINT) AS win_start_epoch,
       event_type, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4)))
                  AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY window(ts, '10 minutes', '5 minutes'), event_type
""",
        duck_sql="""
WITH k2 AS (SELECT 0 AS k UNION ALL SELECT 1),
e AS (SELECT CAST(FLOOR(epoch(ts) / 300.0E0) AS BIGINT) AS hop,
             event_type, value FROM events)
SELECT (hop - k) * 300 AS win_start_epoch, event_type,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4)))
                  AS DOUBLE), 4) AS sum_value
FROM e CROSS JOIN k2 GROUP BY 1, 2
""",
        doc="sliding event-time window (600s size / 300s hop): native "
            "Spark window() expansion vs a hop-explode oracle — "
            "independent algorithms, same relation"))

    _shared("w6_ranks", ("orders",), """
SELECT o_orderkey,
       RANK() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice) AS rnk,
       DENSE_RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice) AS drnk,
       ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice), 6) AS prnk,
       NTILE(4) OVER (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice, o_orderkey) AS quartile
FROM orders
""", doc="W-extra: rank/dense_rank/percent_rank/ntile (SURVEY.md §2.5 "
         "note — rank-vs-row_number is the documented kNN tie knob; "
         "ntile totally ordered for determinism)")

    _shared("a9_cube", ("documents",), """
SELECT lang, source, COUNT(*) AS n,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM documents GROUP BY CUBE(lang, source)
""", doc="A-extra: CUBE aggregate (SURVEY.md §2.4 note — grouping-set "
         "family next to tile_rollup's ROLLUP)")

    _shared("a13_grouping_sets", ("documents",), """
SELECT lang, source, GROUPING(lang) AS g_lang, GROUPING(source) AS g_src,
       COUNT(*) AS n,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM documents
GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
""", doc="A-extra: explicit GROUPING SETS + GROUPING() markers "
         "(VERDICT r4 item 7 — completes the grouping-set family: "
         "ROLLUP in tile_rollup, CUBE in a9_cube); identical SQL both "
         "engines, pure Catalyst Expand, no Python")

    _shared("a10_multidistinct", ("lineitem",), """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""", doc="A-extra: multiple exact distinct aggregates (expand-based "
         "plan; approx_count_distinct is the documented scale knob)")

    # Data-quality layer: one-pass column profiling + slice-drift
    # detection — the pre-flight checks a 100 TB ingest runs before
    # anything downstream trusts the batch. Both all-exact-int until a
    # final rowwise division.
    _shared("profile_stats", ("documents",), """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_text,
       CAST(SUM(CASE WHEN text IS NOT NULL AND LENGTH(text) = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS empty_text,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS d_lang,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS d_source,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
       ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
           AS mean_chars,
       CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT) AS sum_text_len
FROM documents
""", doc="data quality: one-pass column profile (null/empty counts, "
         "distincts, min/max/mean length) — the ingest pre-flight "
         "check; single scan, pure partial aggregation")

    # dist_drift: chi-square drift of the event_type distribution
    # between two deterministic day-parity slices (the stand-in for
    # yesterday-vs-today). Per-type terms, not one scalar: (a) the
    # actionable output IS which type drifted, and (b) it keeps every
    # float op rowwise — term = (o*N - R*C)^2 / (N*R*C) computed from
    # exact int64 marginals via cross-joined scalar totals, double only
    # in the final fixed-order expression (no cross-row double sums,
    # the construct this suite bans).
    def _drift_c(epoch: str) -> str:
        return f"""
SELECT event_type,
       CAST(SUM(CASE WHEN slc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o0,
       CAST(SUM(CASE WHEN slc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o1
FROM (SELECT event_type,
             CAST(FLOOR({epoch} / 86400.0E0) AS BIGINT) % 2 AS slc
      FROM events) s
GROUP BY event_type
"""

    _term = ("(CAST(({o} * (c0 + c1)) - ((o0 + o1) * {c}) AS DOUBLE) "
             "* CAST(({o} * (c0 + c1)) - ((o0 + o1) * {c}) AS DOUBLE))"
             " / (CAST(c0 + c1 AS DOUBLE) * (o0 + o1) * {c})")
    _drift_body = f"""
WITH t AS (SELECT CAST(SUM(o0) AS BIGINT) AS c0,
                  CAST(SUM(o1) AS BIGINT) AS c1 FROM c)
SELECT event_type, o0, o1,
       ROUND({_term.format(o='o0', c='c0')}
             + {_term.format(o='o1', c='c1')}, 6) AS chi2_term
FROM c CROSS JOIN t
"""

    def _drift_fn(spark, sf_dir):
        # c is referenced twice (totals + final projection); a plain CTE
        # would scan events twice. Materialize the tiny per-type count
        # table once (rows = #event types), then finish over it.
        c = spark.sql(_drift_c("unix_timestamp(ts)"))
        c.cache().createOrReplaceTempView("_drift_c")
        return spark.sql(_drift_body.replace("FROM c", "FROM _drift_c"))

    _reg("dist_drift", Q(
        tables=("events",), fn=_drift_fn,
        duck_sql=(f"WITH c AS ({_drift_c('epoch(ts)').strip()}), "
                  + _drift_body.strip().removeprefix("WITH ")),
        doc="data quality: per-event-type chi-square drift between two "
            "deterministic day-parity slices (batch-over-batch "
            "distribution-shift detector; exact-int marginals, rowwise "
            "final term)"))

    # quadkey interop: Bing-maps/slippy-tile string ids off the same
    # grid coords (F12 family). qk5 is derived INDEPENDENTLY from the
    # parent coords rather than substring'd, so the oracle hash also
    # pins the parent-prefix law (pytest asserts it explicitly).
    _pci = "CAST(FLOOR(ci / 4.0E0) AS BIGINT)"
    _pcj = "CAST(FLOOR(cj / 4.0E0) AS BIGINT)"
    _shared("quadkey_assign", ("embeddings",), f"""
WITH {PTS}, {CPTS}
SELECT vec_id, cell,
       {cells.quadkey_sql('ci', 'cj', RES)} AS qk7,
       {cells.quadkey_sql(_pci, _pcj, 5)} AS qk5
FROM cpts
""", doc="F12 interop: quadkey (slippy-tile) string ids at res 7 and "
         "res 5 — prefix-ordered hierarchy keys; portable bit "
         "extraction, pure codegen")

    # round-2 widening extras (all fully oracle-checked, so they sit
    # before the rows-only raster pair): image phash near-dup, z-order
    # locality, distributed k-means, stratified sampling, exact order
    # statistics, PII scrub. hasattr guard like queries_geo's: when
    # queries_ml itself is the first import it is mid-initialization
    # here (its `from .queries import ...` line triggered this whole
    # chain before register_ml_extras was defined) — its own bottom
    # completion hook finishes the job in that exotic path
    from . import queries_ml
    if hasattr(queries_ml, "register_ml_extras"):
        queries_ml.register_ml_extras()

    # round-2 widening batch 2 (corpus preparation: vocab heavy
    # hitters, decontamination, leak-free split, sequence packing) —
    # fully oracle-checked, so also before the rows-only raster pair;
    # same mid-initialization guard as queries_ml
    from . import queries_corpus
    if hasattr(queries_corpus, "register_corpus_extras"):
        queries_corpus.register_corpus_extras()

    # round-5 crawl front door (WARC container + HTML extraction) —
    # fully oracle-checked; same mid-initialization guard
    from . import queries_web
    if hasattr(queries_web, "register_web_extras"):
        queries_web.register_web_extras()

    # raster/pyramid last by historical position (oracle-checked since
    # r5 via the decoded-pixel checksum faces; window placement itself
    # is declarative). hasattr guard: when queries_geo itself is the
    # first import, it is still mid-initialization here (its own bottom
    # call finishes the job — see queries_geo's tail); calling through a
    # partial module would AttributeError (review r2)
    if hasattr(queries_geo, "register_raster"):
        queries_geo.register_raster()

    # in the normal (queries / queries_text first) paths everything is
    # registered by now and this performs the actual re-key; in the
    # queries_ml/_corpus/_geo-first paths it no-ops and the module's own
    # completion hook re-invokes it once its extras exist
    _finalize_window_order()


from . import queries_text  # noqa: E402,F401  (dedup/ANN/text suite;
#                                   calls _register_extras at its bottom)

# Safety net only: in the normal path the queries_text import above has
# completed and its bottom call already registered the extras (no-op
# here). In the queries_text-FIRST path this module's body runs while
# queries_text is still mid-import with NOTHING registered yet — calling
# unconditionally here would put the extras BEFORE the whole text suite
# (the window inversion this structure exists to prevent), so only fire
# once queries_text's own registrations are visible.
if "dedup_exact" in QUERIES:
    _register_extras()
