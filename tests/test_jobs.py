"""End-to-end spark-submit jobs driven in-process (E1/E2/E3 pipelines)."""

import os
import sys

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def images_dir(tmp_path_factory):
    from loc2vec_spark.fixtures import write_fixtures
    d = tmp_path_factory.mktemp("job_imgs")
    write_fixtures(str(d), n_images=120, with_channels=False, n_shards=2)
    return os.path.join(str(d), "images.parquet")


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_job(module_path, argv, spark):
    """Execute a jobs/ script's main() in-process against the session."""
    import importlib.util
    spec = importlib.util.spec_from_file_location("jobmod", module_path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(argv)


def _assert_no_cache(spark):
    """A job releases every frame it cached before main returns."""
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _digest(spark, path, cell_col, id_col):
    """partition -> (rows, id checksum, whole-row content digest)."""
    df = spark.read.parquet(path)
    cols = ", ".join(f"`{c}`" for c in sorted(df.columns))
    return {r[0]: tuple(r[1:]) for r in df.groupBy(cell_col).agg(
        F.count("*"), F.expr(f"bit_xor(xxhash64({id_col}))"),
        F.expr(f"bit_xor(xxhash64({cols}))")).collect()}


def _snapshot(path):
    """Data files (size, mtime) and manifest rows of a committed table."""
    import json

    from loc2vec_spark import lineage
    files = {}
    for d, subs, names in os.walk(path):
        subs[:] = [x for x in subs if not x.startswith("_")]
        for fn in names:
            if fn.endswith(".parquet"):
                st = os.stat(os.path.join(d, fn))
                files[os.path.relpath(os.path.join(d, fn), path)] = \
                    (st.st_size, st.st_mtime_ns)
    rows = lineage._read_manifest_rows(os.path.join(path, "_lineage"))
    return files, sorted(json.dumps(r, sort_keys=True) for r in rows)


def _assert_manifest_matches_files(spark, path, cell_col, id_col):
    """One manifest row per committed partition, equal to its files."""
    from loc2vec_spark import lineage
    rows = lineage._read_manifest_rows(os.path.join(path, "_lineage"))
    got = sorted((int(r["partition"]), r["rows"], r["checksum"])
                 for r in rows)
    want = sorted((c, v[0], v[1]) for c, v in
                  _digest(spark, path, cell_col, id_col).items())
    assert got == want


def _interrupt(path, cell_col, parts, delete):
    """Simulate a commit killed after its data write: the manifest rows
    of ``parts`` are gone, and the data dirs of ``delete`` too."""
    import json
    import shutil
    lin = os.path.join(path, "_lineage")
    for fn in os.listdir(lin):
        full = os.path.join(lin, fn)
        if fn.endswith(".crc"):
            os.remove(full)
        elif fn.endswith(".json"):
            with open(full) as f:
                keep = [ln for ln in f if ln.strip() and
                        json.loads(ln)["partition"] not in parts]
            with open(full, "w") as f:
                f.writelines(keep)
    for p in delete:
        shutil.rmtree(os.path.join(path, f"{cell_col}={p}"))


class _Spy:
    """Wraps a module function, keeping the first argument of each call."""

    def __init__(self, monkeypatch, mod, name):
        self.inputs = []
        fn = getattr(mod, name)

        def spy(df, *a, **kw):
            self.inputs.append(df)
            return fn(df, *a, **kw)
        monkeypatch.setattr(mod, name, spy)

    def rows(self):
        return sum(df.count() for df in self.inputs)


def test_run_mining_end_to_end(spark, images_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "mined_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark.catalog.clearCache()
    _run_job(os.path.join(repo, "jobs", "run_mining.py"),
             ["--images", images_dir, "--out", out, "--res", "9",
              "--k", "3", "--keep-session"], spark)
    _assert_no_cache(spark)

    emb = spark.read.parquet(os.path.join(out, "embeddings"))
    assert emb.count() > 100  # corrupt rows quarantined, rest embedded
    assert "embedding" in emb.columns

    mined = spark.read.parquet(os.path.join(out, "mined"))
    assert {"anchor_id", "rank", "neighbor_id", "hard_id"} <= \
        set(mined.columns)
    n = mined.count()
    assert n > 0
    # ranks within k, one hard pick per anchor
    assert mined.filter("rank > 3").count() == 0
    per_anchor = mined.groupBy("anchor_id").agg(
        {"hard_id": "approx_count_distinct"}).collect()
    assert all(r[1] == 1 for r in per_anchor)

    # resume: second run decodes nothing and leaves both tables'
    # files and manifests untouched
    tables = [os.path.join(out, t) for t in ("embeddings", "mined")]
    before = [_snapshot(t) for t in tables]
    from loc2vec_spark.operators import images as img_ops
    feats = _Spy(monkeypatch, img_ops, "image_features")
    _run_job(os.path.join(repo, "jobs", "run_mining.py"),
             ["--images", images_dir, "--out", out, "--res", "9",
              "--k", "3", "--keep-session"], spark)
    _assert_no_cache(spark)
    assert feats.rows() == 0
    assert [_snapshot(t) for t in tables] == before
    assert spark.read.parquet(os.path.join(out, "mined")).count() == n


def test_run_mining_kill_mid_write(spark, images_dir, tmp_path,
                                   monkeypatch):
    """A commit interrupted in both tables (manifest rows lost, some
    data dirs left behind, some deleted) resumes to a clean run's
    content, decoding only the rows of the lost embeddings buckets."""
    import shutil

    from loc2vec_spark.operators import images as img_ops, triplets
    job = os.path.join(REPO, "jobs", "run_mining.py")
    clean = str(tmp_path / "clean")
    argv = ["--images", images_dir, "--res", "2", "--k", "3",
            "--keep-session"]
    _run_job(job, argv + ["--out", clean], spark)
    tables = (("embeddings", "bucket", "image_id"),
              ("mined", "cell_r7", "anchor_id"))
    want = {t: _digest(spark, os.path.join(clean, t), c, i)
            for t, c, i in tables}

    out = str(tmp_path / "resumed")
    shutil.copytree(clean, out)
    buckets = sorted(want["embeddings"])[:4]
    _interrupt(os.path.join(out, "embeddings"), "bucket", buckets,
               delete=buckets[:2])
    cells = sorted(want["mined"])[:2]
    assert len(want["mined"]) > len(cells)
    _interrupt(os.path.join(out, "mined"), "cell_r7", cells,
               delete=cells[:1])

    feats = _Spy(monkeypatch, img_ops, "image_features")
    _run_job(job, argv + ["--out", out], spark)
    _assert_no_cache(spark)
    lost = spark.read.parquet(images_dir).filter(
        F.pmod(F.xxhash64("image_id"), F.lit(64)).isin(buckets)).count()
    assert feats.rows() == lost
    for t, c, i in tables:
        path = os.path.join(out, t)
        assert _digest(spark, path, c, i) == want[t], t
        _assert_manifest_matches_files(spark, path, c, i)

    # every anchor has an in-ring neighbour at res 2, so every anchor
    # cell is committed now: a rerun runs no kNN and changes nothing
    before = [_snapshot(os.path.join(out, t)) for t, _c, _i in tables]
    knn = _Spy(monkeypatch, triplets, "knn_topk")
    _run_job(job, argv + ["--out", out], spark)
    assert knn.inputs == []
    assert [_snapshot(os.path.join(out, t)) for t, _c, _i in tables] \
        == before


def test_run_mining_with_pca(spark, images_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "mined_pca")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    argv = ["--images", images_dir, "--out", out, "--res", "9",
            "--k", "2", "--pca-k", "4", "--keep-session"]
    _run_job(os.path.join(repo, "jobs", "run_mining.py"), argv, spark)
    emb_dir = os.path.join(out, "embeddings")
    emb = spark.read.parquet(emb_dir)
    row = emb.select("embedding").first()
    assert len(row["embedding"]) == 4

    # resume is all-or-nothing under PCA: one lost bucket refits over
    # every row, and the result equals the clean run
    want = _digest(spark, emb_dir, "bucket", "image_id")
    _interrupt(emb_dir, "bucket", {min(want)}, delete=())
    from loc2vec_spark.operators import images as img_ops
    feats = _Spy(monkeypatch, img_ops, "image_features")
    _run_job(os.path.join(repo, "jobs", "run_mining.py"), argv, spark)
    assert feats.rows() == spark.read.parquet(images_dir).count()
    assert _digest(spark, emb_dir, "bucket", "image_id") == want


def test_run_mining_quality_gate(spark, images_dir, tmp_path,
                                 monkeypatch):
    """--min-sharpness drops low-texture tiles before featurization:
    an absurd threshold keeps nothing; a zero threshold keeps all —
    and the gated embedding set is a subset of the ungated one."""
    out = str(tmp_path / "mined_gated")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from loc2vec_spark.operators import images as img_ops
    imgs = spark.read.parquet(images_dir)
    qual = img_ops.image_quality(imgs).filter("ok").toPandas()
    thr = float(qual.sharpness.quantile(0.5))  # median gate: ~half pass
    argv = ["--images", images_dir, "--out", out, "--res", "9",
            "--k", "2", "--min-sharpness", str(thr), "--keep-session"]
    _run_job(os.path.join(repo, "jobs", "run_mining.py"), argv, spark)
    emb_dir = os.path.join(out, "embeddings")
    emb = spark.read.parquet(emb_dir)
    n_pass = int((qual.sharpness >= thr).sum())
    assert emb.count() == n_pass
    assert 0 < n_pass < len(qual)

    # a resume drops committed buckets before the gate, which decodes;
    # buckets with no passing row never commit and are scored again
    from loc2vec_spark import lineage
    want = _digest(spark, emb_dir, "bucket", "image_id")
    lost = sorted(want)[:3]
    _interrupt(emb_dir, "bucket", set(lost), delete=lost)
    done = sorted(lineage.done_partitions(emb_dir))
    gate = _Spy(monkeypatch, img_ops, "image_quality")
    _run_job(os.path.join(repo, "jobs", "run_mining.py"), argv, spark)
    todo = imgs.filter(~F.pmod(F.xxhash64("image_id"), F.lit(64))
                       .isin(done)).count()
    assert 0 < gate.rows() == todo < imgs.count()
    assert _digest(spark, emb_dir, "bucket", "image_id") == want


def test_run_tiling_end_to_end(spark, images_dir, tmp_path):
    out = str(tmp_path / "tiles_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark.catalog.clearCache()
    _run_job(os.path.join(repo, "jobs", "run_tiling.py"),
             ["--images", images_dir, "--out", out, "--keep-session"],
             spark)
    _assert_no_cache(spark)
    tiles = spark.read.parquet(out)
    n = tiles.count()
    assert n > 100
    assert {"anchor_id", "positive_id", "negative_ids"} <= set(tiles.columns)
    # lineage manifests exist and cover every partition
    from loc2vec_spark import lineage
    assert len(lineage.done_partitions(out)) > 0
    # resume: no duplicates after a re-run
    _run_job(os.path.join(repo, "jobs", "run_tiling.py"),
             ["--images", images_dir, "--out", out, "--keep-session"],
             spark)
    _assert_no_cache(spark)
    assert spark.read.parquet(out).count() == n


def test_run_tiling_kill_mid_write(spark, images_dir, tmp_path,
                                   monkeypatch):
    """An interrupted commit (manifest rows lost, one data dir left
    behind, one deleted) resumes to a clean run's content; a rerun over
    finished output skips the triplet join and changes nothing."""
    import shutil

    from loc2vec_spark.operators import triplets
    job = os.path.join(REPO, "jobs", "run_tiling.py")
    clean = str(tmp_path / "clean")
    argv = ["--images", images_dir, "--keep-session"]
    _run_job(job, argv + ["--out", clean], spark)
    want = _digest(spark, clean, "cell_out", "anchor_id")

    out = str(tmp_path / "resumed")
    shutil.copytree(clean, out)
    cells = sorted(want)[:4]
    _interrupt(out, "cell_out", cells, delete=cells[:2])
    _run_job(job, argv + ["--out", out], spark)
    assert _digest(spark, out, "cell_out", "anchor_id") == want
    _assert_manifest_matches_files(spark, out, "cell_out", "anchor_id")

    before = _snapshot(out)
    trip = _Spy(monkeypatch, triplets, "triplet_table_spatial")
    _run_job(job, argv + ["--out", out], spark)
    _assert_no_cache(spark)
    assert trip.inputs == []
    assert _snapshot(out) == before


def test_run_corpus_end_to_end(spark, tmp_path):
    """documents -> quality/langid filter -> exact + transitive near-dup
    dedup -> lineage-manifested corpus; composition of the registered
    oracle-checked operators."""
    import json

    out = str(tmp_path / "corpus_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "corpusmod", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", "/root/testdata/sf0.01/documents.parquet",
                      "--out", out,
                      "--embeddings",
                      "/root/testdata/sf0.01/embeddings.parquet",
                      "--keep-session"])

    assert stats["input_docs"] == 500
    # each stage only shrinks the corpus
    assert stats["input_docs"] >= stats["after_quality_filter"] \
        >= stats["after_exact_dedup"] >= stats["final_docs"] > 0
    assert stats["embedding_near_dup_pairs"] > 0

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.count() == stats["final_docs"]
    # canonical representatives are unique docs with cluster provenance
    assert corpus.select("doc_id").distinct().count() == stats["final_docs"]
    assert {"text", "lang_pred", "n_tokens", "component",
            "cluster_size"} <= set(corpus.columns)
    # exactly ONE representative per duplicate cluster survives — the
    # component column is written precisely so this is checkable
    assert corpus.select("component").distinct().count() \
        == stats["final_docs"]

    # resume: a re-run commits nothing new
    stats2 = mod.main(["--docs",
                       "/root/testdata/sf0.01/documents.parquet",
                       "--out", out, "--keep-session"])
    assert spark.read.parquet(os.path.join(out, "corpus")).count() \
        == stats["final_docs"]
    assert stats2["final_docs"] == 0  # all partitions already committed


def test_run_corpus_jsonl_with_pii_scrub(spark, tmp_path):
    """Crawl-dump entry: JSONL ingestion with dead-letter quarantine
    feeding the same pipeline, PII scrubbed in the written corpus."""
    import importlib.util
    import pandas as pd

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    # plant PII into a few docs; corrupt two lines
    dump = tmp_path / "dump.jsonl"
    with open(dump, "w") as f:
        for r in docs.itertuples():
            text = r.text + (" mail me at a.b@example.com"
                             if r.doc_id % 7 == 0 else "")
            import json as _json
            f.write(_json.dumps({
                "doc_id": int(r.doc_id), "text": text, "lang": r.lang,
                "source": r.source, "n_chars": int(r.n_chars)}) + "\n")
        f.write("NOT JSON {{{\n")
        f.write('{"text": "rowid missing"}\n')

    out = str(tmp_path / "corpus_out")
    spec = importlib.util.spec_from_file_location(
        "corpusmod2", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", str(dump), "--out", out, "--fmt", "jsonl",
                      "--scrub-pii", "--keep-session"])
    assert stats["quarantined_rows"] == 2
    assert stats["input_docs"] == len(docs)
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert corpus.filter("text LIKE '%example.com%'").count() == 0
    assert corpus.filter("text LIKE '%<EMAIL>%'").count() > 0


def test_run_corpus_split_and_packing(spark, tmp_path):
    """Optional corpus stages: leak-free split column + training-sequence
    packing slots, composed from the oracle-checked operators."""
    import importlib.util

    from pyspark.sql import functions as F

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "corpus_out")
    spec = importlib.util.spec_from_file_location(
        "corpusmod3", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", "/root/testdata/sf0.001/documents.parquet",
                      "--out", out, "--split", "--pack-budget", "256",
                      "--keep-session"])

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert {"split", "pack_shard", "pack_id", "pack_pos"} \
        <= set(corpus.columns)
    # split is a pure function of component -> no cluster straddles
    assert corpus.groupBy("component") \
        .agg(F.countDistinct("split").alias("k")) \
        .filter("k > 1").count() == 0
    assert set(r["split"] for r in
               corpus.select("split").distinct().collect()) \
        <= {"train", "val"}
    # every multi-doc pack respects the budget
    assert corpus.groupBy("pack_shard", "pack_id") \
        .agg(F.sum("n_tokens").alias("s"), F.count("*").alias("c")) \
        .filter("s > 256 AND c > 1").count() == 0
    assert stats["final_docs"] == corpus.count()


def test_run_corpus_weighted_mixing(spark, tmp_path):
    """--mix-weights downsamples sources to w/W * n_min/n_s (mix_sources
    semantics) between dedup and the write."""
    import importlib.util

    from pyspark.sql import functions as F

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "corpus_out")
    spec = importlib.util.spec_from_file_location(
        "corpusmod4", os.path.join(repo, "jobs", "run_corpus.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--docs", "/root/testdata/sf0.001/documents.parquet",
                      "--out", out, "--mix-weights", "src0=3,src1=1",
                      "--keep-session"])
    assert 0 < stats["after_mixing"] < stats["after_exact_dedup"]
    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    assert stats["final_docs"] == corpus.count()
    # weighted sources keep more than weight-1 sources of equal size:
    # src0 (w=3, W=3 -> keep ~all of n_min) vs src1 (w=1 -> ~1/3)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = corpus.join(docs.select("doc_id", "source"), "doc_id") \
                 .groupBy("source").agg(F.count("*").alias("n")) \
                 .collect()
    per = {r["source"]: r["n"] for r in kept}
    if "src0" in per and "src1" in per:
        assert per["src0"] > per["src1"]


def test_run_mining_with_augmentation(spark, images_dir, tmp_path,
                                     monkeypatch):
    """--augment-copies multiplies the embedding pool: each source tile
    contributes itself plus N seeded flip/rotate variants that inherit
    its metadata (same cell), all flowing through featurize/kNN/write."""
    out = str(tmp_path / "mined_aug")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    argv = ["--images", images_dir, "--out", out, "--res", "9",
            "--k", "2", "--augment-copies", "1", "--keep-session"]
    _run_job(os.path.join(repo, "jobs", "run_mining.py"), argv, spark)
    emb_dir = os.path.join(out, "embeddings")
    emb = spark.read.parquet(emb_dir)
    ids = [r.image_id for r in emb.select("image_id").collect()]
    aug_ids = [i for i in ids if "#aug" in i]
    base_ids = [i for i in ids if "#aug" not in i]
    # every decodable source tile embeds once raw + once augmented
    assert len(aug_ids) == len(base_ids)
    assert {i.split("#")[0] for i in aug_ids} == set(base_ids)

    # variants hash to their own buckets: a resume decodes exactly the
    # source and variant rows of the lost buckets
    want = _digest(spark, emb_dir, "bucket", "image_id")
    lost = sorted(want)[:3]
    _interrupt(emb_dir, "bucket", set(lost), delete=lost)
    from loc2vec_spark.operators import images as img_ops
    feats = _Spy(monkeypatch, img_ops, "image_features")
    _run_job(os.path.join(repo, "jobs", "run_mining.py"), argv, spark)
    in_lost = F.pmod(F.xxhash64("image_id"), F.lit(64)).isin(lost)
    pool = spark.read.parquet(images_dir).select("image_id").unionByName(
        spark.createDataFrame([(i,) for i in aug_ids], "image_id STRING"))
    assert feats.rows() == pool.filter(in_lost).count()
    assert _digest(spark, emb_dir, "bucket", "image_id") == want


def test_run_crawl_end_to_end(spark, tmp_path):
    """WARC archives -> container walk + dead-letter split -> HTML
    boilerplate strip -> documents-shape lineage write; composition of
    the warc_records + html_text_extract oracle-checked operators."""
    import json

    from loc2vec_spark.operators.warc import build_warc

    # three archives: two clean (one plain, one gzip-member), one
    # corrupt mid-stream (salvages its first record, quarantines)
    def recs(base, n=5):
        return [{
            "uri": f"http://site{base}.test/page/{i}",
            "date": "2026-02-01T00:00:00Z",
            "status": 404 if (base, i) == (0, 3) else 200,
            "content_type": ("application/json"
                             if (base, i) == (1, 4)
                             else "text/html; charset=utf-8"),
            "body": (f"<html><head><title>P{base}-{i}</title>"
                     f"<script>x</script></head><body><nav>m</nav>"
                     f"<p>content {base} {i}</p></body></html>"
                     ).encode(),
        } for i in range(n)]

    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(build_warc(recs(0), gzip_members=False))
    (wdir / "b.warc.gz").write_bytes(build_warc(recs(1),
                                                gzip_members=True))
    clean = build_warc(recs(2, n=2), gzip_members=False)
    (wdir / "c.warc").write_bytes(clean[:len(clean) // 2 + 40])

    out = str(tmp_path / "crawl_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "crawlmod", os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark.catalog.clearCache()
    stats = mod.main(["--warc", str(wdir / "*"), "--out", out,
                      "--keep-session"])
    _assert_no_cache(spark)

    assert stats["quarantined_archives"] == 1     # c.warc, truncated
    # 10 clean records + c.warc's salvaged prefix (>= 1 record)
    assert stats["records_walked"] >= 11
    assert stats["skipped_non_html"] == 2         # the 404 + the json
    assert stats["documents"] == stats["records_walked"] - 2
    assert stats["written_docs"] == stats["documents"]

    docs = spark.read.parquet(os.path.join(out, "documents"))
    assert docs.count() == stats["documents"]
    row = docs.filter("uri = 'http://site0.test/page/1'").collect()[0]
    assert row["title"] == "P0-1"
    assert row["text"] == "content 0 1"            # chrome stripped
    assert row["source"] == "site0.test"
    assert row["n_chars"] == len("content 0 1")
    assert row["lang"] is None
    # doc_id is re-crawl stable (pure function of the uri)
    from pyspark.sql import functions as F
    expect = spark.range(1).select(
        F.xxhash64(F.lit("http://site0.test/page/1"))).collect()[0][0]
    assert row["doc_id"] == expect

    # the output IS documents-shaped: run_corpus's first stages accept it
    docs.createOrReplaceTempView("documents")
    from loc2vec_spark.queries import QUERIES
    assert spark.sql(QUERIES["text_quality"].spark_sql).count() \
        == stats["documents"]

    # resume: a re-run commits nothing new
    stats2 = mod.main(["--warc", str(wdir / "*"), "--out", out,
                       "--keep-session"])
    assert stats2["written_docs"] == 0
    assert spark.read.parquet(os.path.join(out, "documents")).count() \
        == stats["documents"]


def test_run_crawl_funnel_counts_non_response_records(spark, tmp_path):
    """A WARC 'conversion' record with an html content type parses to
    status=NULL + content_type='text/html' — is_html is then SQL NULL,
    and the funnel must count it under skipped_non_html instead of
    collapsing the NULL and False groups into one bool key (which
    silently dropped whichever count iterated first)."""
    from loc2vec_spark.operators.warc import build_warc

    recs = [{
        "uri": f"http://conv.test/p/{i}", "date": "2026-02-01T00:00:00Z",
        "status": 200, "content_type": "text/html",
        "body": f"<html><body><p>doc {i}</p></body></html>".encode(),
    } for i in range(3)]
    archive = bytearray(build_warc(recs, gzip_members=False))
    # append a hand-built non-response record: WARC-Type conversion,
    # WARC-level Content-Type text/html (the Common Crawl WET shape)
    body = b"plain extracted text"
    head = ("WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Record-ID: <urn:uuid:deadbeef>\r\n"
            "WARC-Date: 2026-02-01T00:00:00Z\r\n"
            "WARC-Target-URI: http://conv.test/wet/0\r\n"
            "Content-Type: text/html\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode()
    archive += head + body + b"\r\n\r\n"
    wdir = tmp_path / "warcs_conv"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(bytes(archive))

    import importlib.util
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "crawlmod2", os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    stats = mod.main(["--warc", str(wdir / "*"), "--out",
                      str(tmp_path / "crawl_conv_out"), "--keep-session"])
    assert stats["records_walked"] == 4          # NULL group not dropped
    assert stats["skipped_non_html"] == 1        # the conversion record
    assert stats["documents"] == 3
    assert stats["dropped_short"] == 0


def test_run_trajectory_end_to_end(spark, tmp_path):
    """The trajectory job composes the oracle-checked stay/OD/co-dwell/
    Hausdorff faces: outputs match the faces run directly, the trip-
    conservation invariant holds, and a re-run resumes (no duplicate
    stay rows)."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "tr_events")
    events.write.parquet(src)
    out = str(tmp_path / "tr_out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark.catalog.clearCache()
    _run_job(os.path.join(repo, "jobs", "run_trajectory.py"),
             ["--events", src, "--out", out, "--keep-session"], spark)
    _assert_no_cache(spark)

    from loc2vec_spark import lineage
    from loc2vec_spark.queries import QUERIES

    events.createOrReplaceTempView("events")
    n_stays = spark.sql(QUERIES["stay_points"].spark_sql).count()
    stays = spark.read.parquet(os.path.join(out, "stay_points"))
    assert stays.count() == n_stays > 0
    n_users = stays.select("user_id").distinct().count()

    from pyspark.sql import functions as F
    od = spark.read.parquet(os.path.join(out, "od_flows"))
    total_trips = od.agg(F.sum("n_trips")).first()[0]
    assert total_trips == n_stays - n_users   # trip conservation

    for sub, face in (("colocation_pairs", "colocation_pairs"),
                      ("similar_users", "hausdorff_pairs")):
        got = spark.read.parquet(os.path.join(out, sub)).count()
        exp = QUERIES[face].fn(spark, None).count()
        assert got == exp, sub

    # resume: every bucket committed -> re-run writes nothing new
    assert len(lineage.done_partitions(
        os.path.join(out, "stay_points"))) > 0
    _run_job(os.path.join(repo, "jobs", "run_trajectory.py"),
             ["--events", src, "--out", out, "--keep-session"], spark)
    assert spark.read.parquet(
        os.path.join(out, "stay_points")).count() == n_stays


def test_run_crawl_url_dedup(spark, tmp_path):
    """Tracked/re-crawled variants of one page collapse on the
    canonical URL before extraction; the earliest fetch wins; the
    funnel counts the drops."""
    import importlib.util
    import os as _os

    from loc2vec_spark.operators.warc import build_warc

    page = (b"<html><head><title>T</title></head>"
            b"<body><p>the content</p></body></html>")
    recs = [
        {"uri": "http://Site.test/a?utm_source=mail",
         "date": "2026-02-02T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "http://site.test/a",                 # earliest fetch
         "date": "2026-02-01T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "http://site.test/a/#frag",
         "date": "2026-02-03T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "http://other.test/b",
         "date": "2026-02-01T00:00:00Z", "status": 200,
         "content_type": "text/html", "body": page},
        {"uri": "%%%not-a-url",                       # NULL canon:
         "date": "2026-02-01T00:00:00Z", "status": 200,  # own keeper
         "content_type": "text/html", "body": page},
    ]
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(build_warc(recs, gzip_members=False))

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "crawlmod3", _os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "out")
    stats = mod.main(["--warc", str(wdir / "*"), "--out", out,
                      "--keep-session"])

    assert stats["records_walked"] == 5
    assert stats["url_duplicates"] == 2
    assert stats["documents"] == 3
    docs = spark.read.parquet(_os.path.join(out, "documents"))
    uris = {r["uri"] for r in docs.collect()}
    # the earliest (warc_date, uri) fetch of the duplicated page won
    assert uris == {"http://site.test/a", "http://other.test/b",
                    "%%%not-a-url"}
    canon = {r["uri"]: r["canon_url"] for r in docs.collect()}
    assert canon["http://site.test/a"] == "http://site.test/a"
    assert canon["%%%not-a-url"] is None
    src = {r["uri"]: r["source"] for r in docs.collect()}
    assert src["http://site.test/a"] == "site.test"


def test_run_crawl_keeps_null_date_records(spark, tmp_path):
    """A response record missing its WARC-Date header must survive
    the URL dedup join (null-safe keys), not vanish silently while
    the funnel miscounts it as a duplicate."""
    import importlib.util
    import os as _os

    page = (b"<html><head><title>N</title></head>"
            b"<body><p>undated content</p></body></html>")
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + b"Content-Length: " + str(len(page)).encode()
            + b"\r\n\r\n" + page)
    rec_nodate = (b"WARC/1.0\r\n"
                  b"WARC-Type: response\r\n"
                  b"WARC-Record-ID: <urn:uuid:1>\r\n"
                  b"WARC-Target-URI: http://nodate.test/a\r\n"
                  b"Content-Type: application/http; msgtype=response"
                  b"\r\nContent-Length: " + str(len(http)).encode()
                  + b"\r\n\r\n" + http + b"\r\n\r\n")
    rec_dated = (b"WARC/1.0\r\n"
                 b"WARC-Type: response\r\n"
                 b"WARC-Record-ID: <urn:uuid:2>\r\n"
                 b"WARC-Date: 2026-02-01T00:00:00Z\r\n"
                 b"WARC-Target-URI: http://dated.test/b\r\n"
                 b"Content-Type: application/http; msgtype=response"
                 b"\r\nContent-Length: " + str(len(http)).encode()
                 + b"\r\n\r\n" + http + b"\r\n\r\n")
    # third pair: the SAME canonical URL fetched once dated, once
    # undated — a record with a KNOWN date must win the dedup even
    # though ascending sort would put NULL first (asc_nulls_last)
    rec_twin_undated = (b"WARC/1.0\r\n"
                        b"WARC-Type: response\r\n"
                        b"WARC-Record-ID: <urn:uuid:3>\r\n"
                        b"WARC-Target-URI: http://twin.test/c\r\n"
                        b"Content-Type: application/http; "
                        b"msgtype=response\r\n"
                        b"Content-Length: " + str(len(http)).encode()
                        + b"\r\n\r\n" + http + b"\r\n\r\n")
    rec_twin_dated = (b"WARC/1.0\r\n"
                      b"WARC-Type: response\r\n"
                      b"WARC-Record-ID: <urn:uuid:4>\r\n"
                      b"WARC-Date: 2026-02-05T00:00:00Z\r\n"
                      b"WARC-Target-URI: http://twin.test/c\r\n"
                      b"Content-Type: application/http; "
                      b"msgtype=response\r\n"
                      b"Content-Length: " + str(len(http)).encode()
                      + b"\r\n\r\n" + http + b"\r\n\r\n")
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    (wdir / "a.warc").write_bytes(rec_nodate + rec_dated
                                  + rec_twin_undated + rec_twin_dated)

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "crawlmod4", _os.path.join(repo, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "out")
    stats = mod.main(["--warc", str(wdir / "*"), "--out", out,
                      "--keep-session"])
    assert stats["records_walked"] == 4
    assert stats["url_duplicates"] == 1           # the twin pair
    assert stats["documents"] == 3
    docs = spark.read.parquet(_os.path.join(out, "documents"))
    rows = {r["uri"]: r for r in docs.collect()}
    assert set(rows) == {"http://nodate.test/a", "http://dated.test/b",
                         "http://twin.test/c"}
    assert rows["http://nodate.test/a"]["warc_date"] is None
    assert rows["http://nodate.test/a"]["text"] == "undated content"
    # the dated twin won, not the undated one
    assert rows["http://twin.test/c"]["warc_date"] == \
        "2026-02-05T00:00:00Z"


def _crawl(spark, tmp_path, archives, name):
    """Write ``archives`` ({file: bytes}) and run run_crawl over them."""
    import importlib.util
    wdir = tmp_path / "warcs"
    wdir.mkdir()
    for fn, data in archives.items():
        (wdir / fn).write_bytes(data)
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "jobs", "run_crawl.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "out")
    return out, mod.main(["--warc", str(wdir / "*"), "--out", out,
                          "--keep-session"])


def test_run_crawl_dead_letters_records_without_uri(spark, tmp_path):
    """Records lacking WARC-Target-URI would all hash to one doc_id
    (xxhash64(NULL) is a constant) and collapse into one document; they
    go to quarantine_records with a reason instead."""
    from loc2vec_spark.operators.warc import build_warc

    def no_uri(i):
        page = f"<html><body><p>orphan {i}</p></body></html>".encode()
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + b"Content-Length: " + str(len(page)).encode()
                + b"\r\n\r\n" + page)
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Record-ID: <urn:uuid:{i}>\r\n".encode()
                + b"WARC-Date: 2026-02-01T00:00:00Z\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"Content-Length: " + str(len(http)).encode()
                + b"\r\n\r\n" + http + b"\r\n\r\n")

    named = build_warc([{
        "uri": "http://named.test/a", "date": "2026-02-01T00:00:00Z",
        "status": 200, "content_type": "text/html",
        "body": b"<html><body><p>named</p></body></html>"}])
    out, stats = _crawl(spark, tmp_path,
                        {"a.warc": no_uri(1) + named + no_uri(2)},
                        "crawl_nouri")
    assert stats["records_walked"] == 3
    assert stats["quarantined_records"] == 2
    assert stats["url_duplicates"] == 0
    assert stats["documents"] == 1
    docs = spark.read.parquet(os.path.join(out, "documents")).collect()
    assert [r["uri"] for r in docs] == ["http://named.test/a"]
    dead = spark.read.parquet(os.path.join(out, "quarantine_records"))
    assert sorted(r["text"] for r in dead.collect()) == ["orphan 1",
                                                         "orphan 2"]
    assert {r["reason"] for r in dead.collect()} == \
        {"record has no WARC-Target-URI"}


def test_run_crawl_twin_records_keep_one_body_by_content_hash(spark,
                                                               tmp_path):
    """Exact twin fetches (same uri, same date, different bodies) share
    a doc_id; the kept body is the smaller content hash whatever the
    record order."""
    from loc2vec_spark.operators.warc import build_warc

    bodies = [b"<html><body><p>first body</p></body></html>",
              b"<html><body><p>second body</p></body></html>"]

    def twins(uri, order):
        return build_warc([{
            "uri": uri, "date": "2026-02-01T00:00:00Z", "status": 200,
            "content_type": "text/html", "body": bodies[i]}
            for i in order])

    out, stats = _crawl(spark, tmp_path, {
        "a.warc": twins("http://twin.test/a", (0, 1)),
        "b.warc": twins("http://twin.test/b", (1, 0))}, "crawl_twins")
    assert stats["documents"] == 2
    assert stats["url_duplicates"] == 2
    hashes = spark.createDataFrame([(bytearray(b),) for b in bodies],
                                   "b BINARY") \
        .select(F.xxhash64("b")).collect()
    want = ("first body" if hashes[0][0] < hashes[1][0]
            else "second body")
    docs = spark.read.parquet(os.path.join(out, "documents")).collect()
    assert {r["uri"]: r["text"] for r in docs} == {
        "http://twin.test/a": want, "http://twin.test/b": want}
