"""The benchmark's operations: one spark-submit job end to end, then the
read side of what it committed.

One operation on a workload runs, in order and each timed on its own:

- ``job_s``: the job's ``main`` into a fresh output directory;
- ``scan_s``: a full scan of every committed table, aggregated per
  partition (row count, id checksum, content digest);
- ``region_scan_s``: a scan of the region table filtered on the res-7
  cells of one urban disk (partition pruning over the committed layout);
- ``resume_s``: the job's ``main`` again over its finished output.

and then checks the output (see :func:`check` and :func:`dangling`).
Session caches are cleared after the job and before every read-side
phase, so the resume starts as cold as a rerun of spark-submit would.
The read-side phases are short, so each runs ``PHASE_RUNS`` times (the
workload's ``resume_runs`` for the resume) and reports its median.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from loc2vec_spark import cells, fixtures

LINEAGE = "_lineage"
REGION_RES = 7
PHASE_RUNS = 5


@dataclass(frozen=True)
class Table:
    sub: str          # directory under the job's --out ("" = --out itself)
    cell_col: str     # partition column the lineage manifest is keyed by
    id_col: str       # column the manifest checksum hashes
    resumable: bool   # a rerun over finished output must commit nothing


@dataclass(frozen=True)
class Workload:
    name: str
    job: str                  # jobs/<job>.py
    tables: tuple[Table, ...]
    region: str               # sub of the table the region scan reads
    expect_rows: dict         # table sub -> expected_counts() key
    expect_ids: dict          # table sub -> key for distinct id_col values
    # (table, column, table, column): every value of the first column
    # must be a value of the second
    links: tuple = ()
    resume_runs: int = PHASE_RUNS


WORKLOADS = {
    "tiling": Workload(
        "tiling", "run_tiling",
        (Table("", "cell_out", "anchor_id", True),),
        region="", expect_rows={"": "anchors_with_cell"},
        expect_ids={"": "anchors_with_cell"}),
    # run_mining rewrites its embeddings on every run (write_partitioned,
    # not write_resumable); only the mined pairs resume. Every embedded
    # row with a cell and an in-ring candidate is a mined anchor.
    "mining": Workload(
        "mining", "run_mining",
        (Table("embeddings", "bucket", "image_id", False),
         Table("mined", "cell_r7", "anchor_id", True)),
        region="mined",
        expect_rows={"embeddings": "decodable", "mined": "mined_rows"},
        expect_ids={"embeddings": "decodable", "mined": "mined_anchors"},
        links=(("mined", "anchor_id", "embeddings", "image_id"),
               ("mined", "neighbor_id", "embeddings", "image_id")),
        # its resume decodes every image again: one sample is long enough
        resume_runs=1),
}


def load_job(root: str, job: str):
    """Import jobs/<job>.py as a module (its ``main`` is the entry point)."""
    spec = importlib.util.spec_from_file_location(
        f"jobbench_{job}", os.path.join(root, "jobs", f"{job}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def region_cells() -> list[int]:
    """Res-7 cells covering the first urban disk of the fixtures."""
    clat, clon = fixtures.URBAN_CENTERS[0]
    r = fixtures.URBAN_RADIUS_DEG
    lat = np.array([clat - r, clat - r, clat, clat + r, clat + r])
    lon = np.array([clon - r, clon + r, clon, clon - r, clon + r])
    return sorted({int(c) for c in cells.latlon_to_cell(lat, lon, REGION_RES)})


@dataclass
class OpResult:
    times: dict = field(default_factory=dict)
    output_files: int = 0
    output_bytes: int = 0
    data_files: int = 0
    output_dirs: int = 0
    committed_rows: int = 0
    digest: str = ""
    errors: list = field(default_factory=list)
    phase_samples: dict = field(default_factory=dict)


def output_size(out: str) -> tuple[int, int, int, int]:
    """(files, bytes) of committed data plus manifests, then (data files,
    directories holding data files)."""
    files = nbytes = data_files = 0
    dirs = set()
    for d, _sub, names in os.walk(out):
        in_lineage = os.path.basename(d) == LINEAGE
        for fn in names:
            data = fn.endswith(".parquet")
            if data or (in_lineage and fn.endswith(".json")):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, fn))
            if data:
                data_files += 1
                dirs.add(d)
    return files, nbytes, data_files, len(dirs)


def manifest(path: str) -> list[dict]:
    """Rows of a table's JSON-lines lineage manifest."""
    lin = os.path.join(path, LINEAGE)
    rows = []
    for fn in sorted(os.listdir(lin)) if os.path.isdir(lin) else ():
        if fn.endswith(".json") and not fn.startswith((".", "_")):
            with open(os.path.join(lin, fn)) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def committed_files(path: str) -> frozenset:
    """Data files of the committed partitions (dead-letter and manifest
    directories, which start with '_', excluded)."""
    out = set()
    for d, subs, names in os.walk(path):
        subs[:] = [s for s in subs if not s.startswith("_")]
        out.update(os.path.relpath(os.path.join(d, fn), path)
                   for fn in names if fn.endswith(".parquet"))
    return frozenset(out)


def scan_table(spark, path: str, t: Table) -> dict:
    """Full scan: partition -> (rows, id checksum, content digest,
    distinct ids)."""
    df = spark.read.parquet(path)
    cols = ", ".join(f"`{c}`" for c in sorted(df.columns))
    agg = (df.groupBy(t.cell_col)
             .agg(F.count("*").alias("rows"),
                  F.expr(f"bit_xor(xxhash64({t.id_col}))").alias("checksum"),
                  F.expr(f"bit_xor(xxhash64({cols}))").alias("digest"),
                  F.countDistinct(t.id_col).alias("ids"))
             .collect())
    return {(None if r[0] is None else int(r[0])):
            (int(r["rows"]), int(r["checksum"]), int(r["digest"]),
             int(r["ids"]))
            for r in agg}


def repeat(res: OpResult, metric: str, spark, span, fn,
           runs: int = PHASE_RUNS):
    """Time ``fn`` as one read-side phase: run it ``runs`` times and
    record the median, so one slow sample of a short phase does not
    decide the run. Session caches are cleared, untimed, before each
    run. Returns the last run's result."""
    times = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with span(metric[:-2]):
            out = fn()
        times.append(time.perf_counter() - t0)
    res.times[metric] = statistics.median(times)
    res.phase_samples[metric] = times
    return out


def run_op(spark, wl: Workload, job, images: str, out: str,
           expect: dict, region: list[int], span=None) -> OpResult:
    """One timed operation plus its correctness checks. ``span(name)``,
    if given, opens a root span around each timed phase."""
    span = span or (lambda _name: nullcontext())
    res = OpResult()
    argv = ["--images", images, "--out", out, "--keep-session"]
    paths = {t.sub: os.path.join(out, t.sub) if t.sub else out
             for t in wl.tables}
    by_sub = {t.sub: t for t in wl.tables}

    t0 = time.perf_counter()
    with span("job"):
        job.main(argv)
    res.times["job_s"] = time.perf_counter() - t0
    (res.output_files, res.output_bytes, res.data_files,
     res.output_dirs) = output_size(out)
    spark.catalog.clearCache()

    scans = repeat(res, "scan_s", spark, span, lambda: {
        sub: scan_table(spark, p, by_sub[sub]) for sub, p in paths.items()})

    rt = by_sub[wl.region]
    n_region = repeat(res, "region_scan_s", spark, span, lambda: (
        spark.read.parquet(paths[wl.region])
        .filter(F.col(rt.cell_col).isin(region)).count()))

    orphans = {link: dangling(spark, paths, *link) for link in wl.links}

    before = {sub: (len(manifest(p)), committed_files(p))
              for sub, p in paths.items()}
    repeat(res, "resume_s", spark, span, lambda: job.main(argv),
           runs=wl.resume_runs)
    spark.catalog.clearCache()
    after = {sub: (len(manifest(p)), committed_files(p))
             for sub, p in paths.items()}

    res.errors = check(wl, paths, scans, n_region, region, before, after,
                       expect)
    res.errors += [f"{t}.{c}: {n} values missing from {pt}.{pc}"
                   for (t, c, pt, pc), n in orphans.items() if n]
    res.committed_rows = sum(r[0] for s in scans.values() for r in s.values())
    res.digest = hashlib.sha256(json.dumps(
        {sub: sorted(s.items(), key=lambda kv: str(kv[0]))
         for sub, s in sorted(scans.items())}).encode()).hexdigest()
    return res


def dangling(spark, paths: dict, sub: str, col: str, parent: str,
             parent_col: str) -> int:
    """Distinct values of ``sub.col`` absent from ``parent.parent_col``."""
    keys = spark.read.parquet(paths[parent]).select(F.col(parent_col)
                                                    .alias("_key"))
    return (spark.read.parquet(paths[sub]).select(col).distinct()
            .join(keys, F.col(col) == F.col("_key"), "left_anti").count())


def check(wl: Workload, paths: dict, scans: dict, n_region: int,
          region: list[int], before: dict, after: dict,
          expect: dict) -> list[str]:
    """Correctness of one operation; returns the failed checks."""
    errors = []
    for t in wl.tables:
        scan = scans[t.sub]
        label = t.sub or wl.name
        if None in scan:
            errors.append(f"{label}: {scan[None][0]} rows with NULL "
                          f"{t.cell_col} committed")
        # every table partitions by a function of its id, so an id's
        # rows share one partition and the per-partition counts add up
        for i, what, keys in ((0, "rows", wl.expect_rows),
                              (3, f"distinct {t.id_col}", wl.expect_ids)):
            got = sum(r[i] for r in scan.values())
            key = keys[t.sub]
            if got != expect[key]:
                errors.append(f"{label}: committed {got} {what}, expected "
                              f"{expect[key]} ({key})")
        # manifest rows of the first run, recomputed from the files
        man = manifest(paths[t.sub])
        first_run = man[0]["run_id"] if man else None
        recorded = {int(m["partition"]): (int(m["rows"]), int(m["checksum"]))
                    for m in man if m["run_id"] == first_run}
        recomputed = {c: r[:2] for c, r in scan.items() if c is not None}
        if recorded != recomputed:
            diff = set(recorded.items()) ^ set(recomputed.items())
            errors.append(f"{label}: manifest disagrees with committed "
                          f"files on {len({c for c, _ in diff})} partitions")
        if t.resumable and before[t.sub] != after[t.sub]:
            errors.append(f"{label}: resume over finished output committed "
                          f"{after[t.sub][0] - before[t.sub][0]} manifest "
                          f"rows and changed data files")
    want = sum(r[0] for c, r in scans[wl.region].items() if c in set(region))
    if n_region != want:
        errors.append(f"region scan counted {n_region} rows, the full scan "
                      f"has {want} in the same cells")
    return errors
