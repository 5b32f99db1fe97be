#!/usr/bin/env python
"""Embedding export + hard-triplet mining job (E2 + E3, spark-submit).

    spark-submit --py-files loc2vec_spark.zip jobs/run_mining.py \
        --images <dir> --out <dir> [--res 9] [--k 5] [--pca-k 8]

Pipeline (the reference's ``evaluate_embeddings`` + ``TripletMiner``
re-expressed, ``loc2vec_run.py:13-48`` / ``triplet_mining.py:22-164``):

images table
  -> decode + featurize (mapInPandas, one Python crossing)     [E2]
  -> optional PCA projection (partial+final moments, broadcast
     components — optim.py:53-62 parity)                       [A6]
  -> cell assignment from caption/phash lat-lon                [F12]
  -> cell-blocked kNN top-k in embedding space                 [J5+W1]
  -> seeded pick within top-k (hard-negative choice)           [W2]
  -> embeddings + mined pairs written with lineage manifests   [S6/S8]

Every stage is resumable and deterministic; the kNN never materializes
an all-pairs matrix (the reference's own BAD note,
triplet_mining.py:17-20).

Resume. Both tables carry per-partition lineage manifests, and a rerun
applies each done-set to its stage's INPUT, before the expensive
operators:

- embeddings are partitioned by ``bucket = pmod(xxhash64(image_id),
  64)``, which is known before decode: rows of committed buckets are
  never decoded again (with ``--min-sharpness`` the filter runs before
  the quality gate, which decodes too). The kNN candidates are the
  freshly embedded rows plus the committed buckets read back from
  parquet. With ``--augment-copies`` the variants hash to their own
  buckets, so the filter runs after the variants are made. A bucket
  whose rows all fail decode or the gate commits nothing, so a rerun
  scores those rows again.
- mined pairs are partitioned by ``cell_r7``: only rows of uncommitted
  cells are kNN anchors, while candidates stay every embedded row, so
  a resumed cell holds exactly what a clean run writes. Rows whose cell
  mined nothing (no in-ring neighbour) commit no partition and no
  manifest row, so every rerun retries them with a small kNN; with no
  anchor left the kNN does not run.
- ``--pca-k``: the PCA fit needs every raw feature and the committed
  vectors are already projected, so embeddings resume all-or-nothing:
  reused when every input bucket is committed, otherwise recomputed
  (and refit) for every row, with only the uncommitted buckets written.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F  # noqa: E402

from loc2vec_spark import lineage  # noqa: E402
from loc2vec_spark.operators import geo, images as img_ops  # noqa: E402
from loc2vec_spark.operators import stats, triplets  # noqa: E402
from loc2vec_spark.session import get_spark  # noqa: E402

N_BUCKETS = 64  # embeddings partitions: pmod(xxhash64(image_id), 64)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--res", type=int, default=9,
                    help="cell resolution for kNN blocking")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--pca-k", type=int, default=0,
                    help="project embeddings to k dims first (0 = off)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cap", type=int, default=1024,
                    help="per-cell candidate cap (0 = exact, no cap)")
    ap.add_argument("--min-sharpness", type=float, default=0.0,
                    help="drop tiles whose Laplacian-variance sharpness "
                         "is below this (image_quality quality gate; "
                         "0 = off)")
    ap.add_argument("--augment-copies", type=int, default=0,
                    help="emit this many seeded flip/rotate variants "
                         "per tile into the embedding pool (0 = off)")
    ap.add_argument("--keep-session", action="store_true",
                    help="do not stop the SparkSession (in-process tests)")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="loc2vec_mining")
    from loc2vec_spark.packaging import ensure_workers_can_import
    ensure_workers_can_import(spark)

    images = spark.read.parquet(args.images)
    emb_dir = os.path.join(args.out, "embeddings")
    mined_dir = os.path.join(args.out, "mined")
    bucket = F.pmod(F.xxhash64("image_id"), F.lit(N_BUCKETS))

    # Quality gate (image face of the corpus job's text filters): score
    # once, semi-join the ids that pass — blurry/empty tiles never reach
    # the featurizer. Join, not collect: the pass-set is data-scale.
    def gate(df):
        if args.min_sharpness <= 0:
            return df
        good = img_ops.image_quality(df).filter(
            (F.col("ok")) & (F.col("sharpness") >= args.min_sharpness)) \
            .select("image_id")
        return df.join(good, "image_id", "left_semi")

    # every id that may hold an embedding; its rows carry the metadata
    # the cells come from
    pool = images
    # Optional pool multiplication: seeded dihedral variants join the
    # originals BEFORE featurization (contrastive-training widening;
    # the reference trains on raw tiles only). union, not a flag on the
    # featurizer: the variants are real rows with their own ids, so
    # every downstream stage (cells, kNN, lineage) treats them uniformly.
    if args.augment_copies > 0:
        gated = gate(images)
        # a flipped/rotated tile keeps its source row's metadata (same
        # location, same caption) — rejoin it via the base id
        meta = gated.drop("bytes", "w", "h") \
            .withColumnRenamed("image_id", "base_id")
        aug = (img_ops.augment_images(gated, seed=args.seed,
                                      copies=args.augment_copies)
               .join(meta, "base_id").drop("base_id", "aug_op"))
        pool = gated.unionByName(aug.select(*gated.columns))

    # F12: cells from metadata (one pass for both the kNN-blocking and
    # output-partition resolutions)
    cells_all = geo.with_cells(geo.with_latlon(pool),
                               resolutions=(args.res, 7)) \
        .select("image_id", F.col(f"cell_r{args.res}").alias("cell"),
                "cell_r7").cache()
    cached = [cells_all]

    # resume: committed embeddings buckets are reused, not decoded
    reuse = lineage.done_partitions(emb_dir)
    unembedded = lineage.resume_filter(
        cells_all.withColumn("bucket", bucket), emb_dir, cell_col="bucket",
        done=reuse)
    featurize = not reuse or not unembedded.isEmpty()
    if featurize and args.pca_k:
        reuse = set()  # all-or-nothing, see the module doc
    # an input id is its own embedding id, so committed rows drop before
    # the gate decodes them; variant ids are only known after the union
    feed = pool if args.augment_copies else images
    if reuse:
        feed = lineage.resume_filter(feed.withColumn("bucket", bucket),
                                     emb_dir, cell_col="bucket",
                                     done=reuse).drop("bucket")
    if not args.augment_copies:
        feed = gate(feed)

    # E2: embedding export — id travels in the row (fixes the reference's
    # positional id/embedding misalignment, loc2vec_run.py:33-48).
    # Cache BEFORE PCA: pca_project runs a moments job plus the
    # projection, and without the cache each would re-decode every PNG.
    parts = []
    dim = args.pca_k or 16
    if featurize:
        fresh = img_ops.image_features(feed).cache()
        cached.append(fresh)
        if args.pca_k:
            fresh = stats.pca_project(fresh.withColumn(
                "embedding", F.col("embedding").cast("array<double>")),
                id_col="image_id", emb_col="embedding",
                dim=16, k=args.pca_k).withColumnRenamed("pca", "embedding") \
                .cache()
            cached.append(fresh)
        lineage.write_resumable(fresh.withColumn("bucket", bucket), emb_dir,
                                cell_col="bucket", id_col="image_id")
        parts.append(fresh)
    if reuse:
        parts.append(lineage.read_partitions(
            spark, emb_dir, cell_col="bucket", parts=reuse)
            .select("image_id", "embedding"))
    emb = parts[0]
    for p in parts[1:]:
        emb = emb.unionByName(p)

    # J5+W1: cell-blocked kNN in embedding space; on resume only rows
    # of uncommitted res-7 cells are anchors
    pts = cells_all.select("image_id", "cell") \
                   .filter(F.col("cell").isNotNull()) \
                   .join(emb, "image_id")
    if reuse:
        # holds a parquet read-back; the anchor filter and both kNN
        # sides would each scan and join it again
        pts = pts.cache()
        cached.append(pts)
    mined_done = lineage.done_partitions(mined_dir)
    anchors = None
    if mined_done:
        todo = lineage.resume_filter(cells_all, mined_dir,
                                     cell_col="cell_r7", done=mined_done) \
            .filter(F.col("cell").isNotNull() & F.col("cell_r7").isNotNull())
        anchors = pts.join(todo.select("image_id"), "image_id", "left_semi")
    index = {}
    if not mined_done or not todo.isEmpty():
        index = _mine(pts, anchors, cells_all, mined_dir, args, dim)
    for df in cached:
        df.unpersist()
    print(f"committed {len(index)} partitions, "
          f"{sum(r['rows'] for r in index.values())} mined rows")
    if not args.keep_session:
        spark.stop()


def _mine(pts, anchors, cells_all, mined_dir: str, args, dim: int) -> dict:
    """kNN top-k for ``anchors`` (default every row of ``pts``) against
    every row of ``pts``, a seeded hard pick, and the resumable write of
    the mined pairs partitioned by the anchor's res-7 cell."""
    topk = triplets.knn_topk(pts, id_col="image_id", emb_col="embedding",
                             cell_col="cell", res=args.res, dim=dim,
                             k=args.k, cap=args.cap or None,
                             anchors=anchors)

    # W2: seeded pick within the top-k (triplet_mining.py:147, seeded —
    # the reference used unseeded random.choice; divergence §5.1)
    pick = (topk.withColumn(
        "pick_ord",
        F.expr(f"pmod(xxhash64(neighbor_id, {args.seed}), 1000000007)"))
        .withColumn("pr", F.row_number().over(
            Window.partitionBy("anchor_id").orderBy("pick_ord",
                                                    "neighbor_id")))
        .filter(F.col("pr") == 1)
        .select("anchor_id", F.col("neighbor_id").alias("hard_id")))

    mined = topk.join(pick, "anchor_id", "left")
    cells_out = cells_all.select(F.col("image_id").alias("anchor_id"),
                                 "cell_r7")
    out = mined.join(cells_out, "anchor_id") \
               .filter(F.col("cell_r7").isNotNull())
    return lineage.write_resumable(out, mined_dir, cell_col="cell_r7",
                                   id_col="anchor_id")

if __name__ == "__main__":
    main()
