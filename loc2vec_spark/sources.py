"""Directory-as-table sources (S1-S4): the reference's on-disk layout.

The reference walks a dataset root where each subdirectory is a *channel*
and each ``output_<id>.png`` inside is a sample
(``/root/reference/src/loc2vec/data_loading.py:138-214``), probing image
dims by decoding the first file (``:213-214``) and aligning channels by
filename position (``:154-164``). Here the same layout is a Catalyst scan:

- ``spark.read.format("binaryFile")`` does the listing/pruning (S1/S2 —
  no hand-memoized path lists; Catalyst caches file indexes),
- id extraction is a regexp projection (P2, ``loc2vec_run.py:26-27``),
- the dimension probe is *pure SQL over the PNG IHDR header bytes* — width
  and height live at fixed offsets in every PNG, so `substring` + `hex` +
  `conv` read them inside whole-stage codegen with no Python and no
  decode (upgrade over the reference's decode-first-file probe),
- J3 squeeze (keep ids present in every channel) is a count-filter or
  semi-join, not filesystem deletes (``data_loading.py:191-202``),
- J1 channel alignment (positional zip ``:154-164``) is a groupBy-pivot
  into one wide row per sample.

At graft scale the directory tree is replaced by the Iceberg images table
(BASELINE.json input_hint) — these sources exist so a reference user can
point the engine at their existing PNG trees and get the same table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# PNG layout: 8-byte signature, IHDR length+tag (8 bytes), then width and
# height as 4-byte big-endian ints -> bytes 17-20 / 21-24 (1-based).
_W_SQL = "CAST(CONV(HEX(SUBSTRING(content, 17, 4)), 16, 10) AS INT)"
_H_SQL = "CAST(CONV(HEX(SUBSTRING(content, 21, 4)), 16, 10) AS INT)"
_PNG_SIG_SQL = "HEX(SUBSTRING(content, 1, 8)) = '89504E470D0A1A0A'"


def read_image_tree(spark: SparkSession, root: str,
                    glob: str = "*.png") -> DataFrame:
    """S1: scan ``root/<channel>/<file>.png`` into a tall channel table.

    Output: (image_id, channel, bytes, w, h, fmt, path) — dims probed
    from the IHDR header in SQL (every row, not just the first file),
    ``fmt`` from the signature check (S4 as a per-row predicate column).
    """
    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", glob)
           .option("recursiveFileLookup", "true")
           .load(root))
    return raw.select(
        F.regexp_extract("path", r"([^/]+)\.[A-Za-z0-9]+$", 1).alias("_stem"),
        F.regexp_extract("path", r"/([^/]+)/[^/]+$", 1).alias("channel"),
        F.col("content").alias("bytes"),
        F.expr(f"CASE WHEN {_PNG_SIG_SQL} THEN {_W_SQL} END").alias("w"),
        F.expr(f"CASE WHEN {_PNG_SIG_SQL} THEN {_H_SQL} END").alias("h"),
        F.expr(f"CASE WHEN {_PNG_SIG_SQL} THEN 'png' END").alias("fmt"),
        F.col("path"),
    ).withColumn(
        # P2: strip the reference's "output_" prefix (loc2vec_run.py:26-27)
        "image_id", F.regexp_replace("_stem", r"^output_", "")
    ).drop("_stem")


def validate_channels(tree: DataFrame) -> dict:
    """P4+P5: existence + equal-cardinality checks (data_loading.py:174-179).

    Returns {"channels": n, "counts": {channel: rows}, "equal": bool};
    raising is the caller's choice (the reference raises mid-scan)."""
    counts = {r["channel"]: r["count"]
              for r in tree.groupBy("channel").count().collect()}
    if not counts:
        raise ValueError("no channels found (P4 existence check)")
    return {"channels": len(counts), "counts": counts,
            "equal": len(set(counts.values())) == 1}


def squeeze(tree: DataFrame, n_channels: int | None = None) -> DataFrame:
    """J3: keep only ids present in EVERY channel (the reference's
    ``squeeze``/``remove_uncommon`` keep-set, data_loading.py:191-202 —
    minus the filesystem deletion, which was a no-op generator bug
    ``:196`` anyway; documented divergence SURVEY.md §5.1).

    One grouped count + semi-join — no per-pair set arithmetic.
    """
    if n_channels is None:
        n_channels = tree.select("channel").distinct().count()
    full = (tree.groupBy("image_id")
                .agg(F.countDistinct("channel").alias("_nc"))
                .filter(F.col("_nc") == n_channels)
                .select("image_id"))
    return tree.join(F.broadcast(full), "image_id", "left_semi")


def dropped_by_squeeze(tree: DataFrame,
                       n_channels: int | None = None) -> DataFrame:
    """J3 anti face: the ids squeeze would delete (symmetric-difference
    diagnostic, trainset_validation.py:18-47)."""
    if n_channels is None:
        n_channels = tree.select("channel").distinct().count()
    return (tree.groupBy("image_id")
                .agg(F.countDistinct("channel").alias("n_channels"))
                .filter(F.col("n_channels") < n_channels))


def channel_align(tree: DataFrame) -> DataFrame:
    """J1: one wide row per sample — channel -> bytes map column.

    The reference zips the j-th file of every channel list positionally
    (data_loading.py:154-164); filename ids make that an equi-join. A
    map column (not 12 fixed columns) keeps the schema channel-count
    agnostic; consumers `element_at` what they need.
    """
    return (tree.groupBy("image_id")
                .agg(F.map_from_entries(
                         F.sort_array(F.collect_list(
                             F.struct("channel", "bytes")))).alias("channels"),
                     F.min("w").alias("w"), F.min("h").alias("h")))


def anchor_tables(spark: SparkSession, anchor_root: str,
                  positive_root: str,
                  negative_root: str | None = None) -> dict[str, DataFrame]:
    """D2: the reference's anchor/(i, plus, minus) directory triple
    (``Tensor_Loader`` paths, data_loading.py:18-20, config.toml:8-9) as
    three aligned DataFrames keyed by image_id; negative is None when
    absent — synthesized downstream by J4 (negative_sample_*)."""
    out = {"anchor": read_image_tree(spark, anchor_root),
           "positive": read_image_tree(spark, positive_root)}
    if negative_root is not None:
        out["negative"] = read_image_tree(spark, negative_root)
    return out


# ---------------------------------------------------------------------------
# Text-corpus ingestion (JSONL / CSV crawl dumps -> documents table)
# ---------------------------------------------------------------------------

DOCUMENTS_DDL = ("doc_id BIGINT, text STRING, lang STRING, "
                 "source STRING, n_chars BIGINT")


def read_documents(spark: SparkSession, path: str, *, fmt: str = "jsonl",
                   schema: str = DOCUMENTS_DDL) -> tuple[DataFrame,
                                                         DataFrame]:
    """Ingest a crawl dump into the ``documents`` shape with a
    dead-letter split: returns ``(good, quarantine)``.

    Training corpora arrive as JSONL/CSV dumps with malformed lines in
    the tail of every real crawl; one bad row of 10^12 must neither kill
    the job (ANSI Spark throws on silent coercions) nor silently vanish.
    PERMISSIVE mode routes unparseable lines into a corrupt-record
    column; the quarantine frame carries the raw line for debugging.

    Scale notes: schema is explicit (inference = an extra full scan at
    10^12 rows and a schema race across shards); line-delimited JSON and
    CSV both split by newline, so a 100 TB dump parallelizes per block
    with no coordination.
    """
    corrupt = "_corrupt"
    full = f"{schema}, {corrupt} STRING"
    if fmt == "jsonl":
        df = (spark.read.schema(full)
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", corrupt)
              .json(path))
    elif fmt == "csv":
        df = (spark.read.schema(full)
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", corrupt)
              .option("header", "true")
              .csv(path))
    else:
        raise ValueError(f"unsupported corpus format: {fmt}")
    # Spark refuses to filter on the corrupt column straight off the
    # scan (SPARK-38523: it is populated only for parsed rows in the
    # same pass) — cache the parsed frame first, then split
    df = df.cache()
    ok = F.col(corrupt).isNull() & F.col("doc_id").isNotNull()
    good = df.filter(ok).drop(corrupt)
    quarantine = (df.filter(~ok)
                  .select(F.col(corrupt).alias("raw"),
                          *[c for c in df.columns if c != corrupt]))
    return good, quarantine
