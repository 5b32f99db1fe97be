#!/usr/bin/env python
"""Crawl-archive ingestion job — the corpus pipeline's front door
(spark-submit).

    spark-submit --py-files loc2vec_spark.zip jobs/run_crawl.py \
        --warc '<glob of .warc / .warc.gz archives>' --out <dir> \
        [--min-chars 1] [--keep-session]

Turns raw WARC crawl archives into the ``documents``-table shape that
every downstream operator and ``jobs/run_corpus.py`` consume:

WARC archives (binaryFile glob, file-parallel)
  -> operators.warc.read_warc     container walk + dead-letter split
     (corrupt archives salvage their clean prefix and land one row in
     out/quarantine_archives — a bad shard of 10^5-10^6 archives must
     neither kill the job nor vanish silently)
  -> keep HTTP 200 text/html responses (skipped statuses/types counted)
  -> operators.html.html_extract  boilerplate strip (Arrow-batched
     pandas UDF: script/style/nav/chrome subtrees dropped, first
     non-empty document title captured, entities decoded, whitespace
     collapsed — never raises on tag soup)
  -> documents rows: doc_id = xxhash64(uri) (deterministic, re-crawl
     stable), source = registered host, lang = NULL (language ID is an
     annotation operator, run_corpus's text_langid stage), n_chars;
     records without a target URI have no doc_id and go to
     out/quarantine_records with a reason
  -> lineage-manifested resumable write (out/documents), bucketed by
     doc_id hash exactly like run_corpus's output

Reference anchor: the S1 directory-as-table scan
(``/root/reference/src/data_loading.py:142-149``) generalized to the
crawl-archive container per SURVEY.md §2.10. Every stage is an
oracle-checked operator face (warc_records, html_text_extract);
this job is their composition. Prints one JSON stats line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from loc2vec_spark import lineage  # noqa: E402
from loc2vec_spark.session import get_spark  # noqa: E402


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warc", required=True,
                    help="glob of .warc/.warc.gz archives")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-chars", type=int, default=1,
                    help="drop pages whose extracted text is shorter "
                         "(boilerplate-only pages extract to empty)")
    ap.add_argument("--keep-session", action="store_true")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="loc2vec_crawl")
    from loc2vec_spark.packaging import ensure_workers_can_import
    ensure_workers_can_import(spark)

    from loc2vec_spark.operators.html import html_extract_udf
    from loc2vec_spark.operators.warc import read_warc

    stats = {}
    good, quarantine = read_warc(spark, args.warc)

    # dead-letter sink first (S7-style): the archive-level quarantine
    # is tiny (one row per corrupt archive) and must survive even if
    # the extraction stage below fails
    qpath = os.path.join(args.out, "quarantine_archives")
    quarantine.write.mode("overwrite").parquet(qpath)
    stats["quarantined_archives"] = spark.read.parquet(qpath).count()

    # funnel counts in ONE aggregation over an uncached walk — caching
    # the records frame would pin every decompressed body for the
    # count phase (read_warc's docstring: recompute beats pinning at
    # the 10^5-10^6-archive operating point), so the job pays THREE
    # walks total (the quarantine split above, this count, and the
    # extraction below) and pins nothing raw; folding the funnel into
    # the quarantine pass would save one walk at the cost of a cached
    # full-body frame, the wrong trade at the operating point.
    # The funnel is the job's operational contract: every dropped row
    # is counted under a reason, nothing vanishes silently — so the
    # group key is NULL-coalesced: is_html is NULL (not False) for a
    # non-response record (status NULL) with an html content type, and
    # a raw bool(r[...]) key would collapse the NULL and False groups,
    # silently dropping whichever count iterated first.
    is_html = F.coalesce(
        (F.col("status") == 200) & F.coalesce(
            F.lower(F.col("content_type")).startswith("text/html"),
            F.lit(False)),
        F.lit(False))
    funnel = {bool(r["is_html"]): r["n"] for r in
              good.groupBy(is_html.alias("is_html"))
                  .agg(F.count("*").alias("n")).collect()}
    stats["records_walked"] = sum(funnel.values())
    stats["skipped_non_html"] = funnel.get(False, 0)

    # URL-level dedup BEFORE paying to parse: re-crawls and tracked
    # variants of the same page (scheme case, utm_* params, fragments,
    # trailing slashes) collapse on the canonical URL — the earliest
    # (warc_date, uri) fetch wins deterministically. Malformed URLs
    # canonicalize to NULL and each stays its own row (a parse failure
    # must not glue unrelated pages together). Plan shape (review r5:
    # bodies never cross Arrow for a uri-only computation): canonical
    # keys compute on the DISTINCT (uri, warc_date) projection, the
    # winner per key is a window top-1 over that small relation, and
    # the bodies shuffle ONCE in the join back — the unavoidable cost
    # of picking one body per page. Exact twin records (same uri AND
    # date) both pass the join; their doc_ids collide and the
    # post-extraction doc_id dedup below collapses them on the small
    # extracted frame, not the raw bodies.
    from pyspark.sql import Window

    from loc2vec_spark.operators.url import canonicalize_urls

    html = good.filter(is_html)
    proj = canonicalize_urls(
        html.select("uri", "warc_date").distinct(), "uri")
    ukey = F.coalesce("canon_url", "uri")
    # NULLS LAST: "earliest fetch wins" must not let a record whose
    # date is UNKNOWN beat a properly dated fetch of the same page
    # (ascending default is nulls-first, and with the null-safe join
    # below that winner would actually survive — review r5)
    wnd = Window.partitionBy(ukey).orderBy(
        F.col("warc_date").asc_nulls_last(),
        F.col("uri").asc_nulls_last())
    # a record without a target URI has no page identity to dedup on:
    # every one passes here and is dead-lettered after extraction
    winners = (proj.withColumn("_rk", F.row_number().over(wnd))
                   .filter("_rk = 1 OR uri IS NULL").drop("_rk")
                   .withColumnRenamed("uri", "_wuri")
                   .withColumnRenamed("warc_date", "_wdate"))
    # NULL-SAFE equi-join (review r5): a response record may lack its
    # WARC-Date (or even Target-URI) header, and a winner carrying a
    # NULL key would match NOTHING under plain equality — its whole
    # canonical group would vanish from the corpus while the funnel
    # miscounted it as a duplicate. <=> joins are still hash
    # joinable, so the plan shape is unchanged.
    pages = (html.join(
        winners,
        html["uri"].eqNullSafe(F.col("_wuri"))
        & html["warc_date"].eqNullSafe(F.col("_wdate")))
        .drop("_wuri", "_wdate"))
    pages = pages.withColumn(
        "ex", html_extract_udf()(F.col("body").cast("string")))
    extracted = pages.select(
        # doc_id stays a pure function of the RAW uri (re-crawl
        # stable, resume-layout stable); canon_url rides along for
        # downstream URL analytics
        F.xxhash64("uri").alias("doc_id"),
        F.col("ex.text").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.coalesce(
            F.col("host"),
            F.regexp_extract("uri", r"^[a-z]+://([^/]+)", 1))
         .alias("source"),
        F.length("ex.text").cast("bigint").alias("n_chars"),
        F.col("ex.title").alias("title"),
        "uri", "canon_url", "warc_date", "path",
        F.xxhash64("body").alias("_content_hash")).cache()

    # dead letters: xxhash64(NULL) is one constant, so URI-less records
    # would otherwise all collapse into a single document
    rpath = os.path.join(args.out, "quarantine_records")
    extracted.filter(F.col("uri").isNull()).select(
        "path", "warc_date", "title", "text",
        F.lit("record has no WARC-Target-URI").alias("reason")) \
        .write.mode("overwrite").parquet(rpath)
    stats["quarantined_records"] = spark.read.parquet(rpath).count()

    # exact twin records (same uri and date) share a doc_id: keep one
    # by a total order, so the winning body never depends on task order
    twin = Window.partitionBy("doc_id").orderBy(
        F.col("warc_date").asc_nulls_last(), "_content_hash", "text")
    docs = (extracted.filter(F.col("uri").isNotNull())
            .withColumn("_rk", F.row_number().over(twin))
            .filter("_rk = 1").drop("_rk", "_content_hash", "path"))
    html_unique = docs.count()
    stats["url_duplicates"] = (stats["records_walked"]
                               - stats["skipped_non_html"]
                               - stats["quarantined_records"]
                               - html_unique)
    kept = docs.filter(F.col("n_chars") >= args.min_chars)
    stats["documents"] = kept.count()
    stats["dropped_short"] = html_unique - stats["documents"]

    # resumable bucketed write, same layout contract as run_corpus
    out_df = kept.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(16)))
    index = lineage.write_resumable(out_df,
                                    os.path.join(args.out, "documents"),
                                    cell_col="bucket", id_col="doc_id")
    stats["written_docs"] = sum(r["rows"] for r in index.values())
    stats["partitions"] = len(index)
    extracted.unpersist()

    print(json.dumps(stats))
    if not args.keep_session:
        spark.stop()
    return stats


if __name__ == "__main__":
    main()
