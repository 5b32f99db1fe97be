#!/usr/bin/env python3
"""Job-level benchmark of the loc2vec_spark engine.

    python3 jobbench/run.py --workload {tiling,mining} --seed N \
        --seconds S --trace {0,1} [--rows R]

Drives the spark-submit entry points in-process (``jobs/run_tiling.py``
and ``jobs/run_mining.py`` with ``--keep-session``) against a seeded
``images`` table (:mod:`jobbench.inputs`), on one SparkSession sized to
the host: ``local[nproc]`` and a fixed driver heap (``-Xms`` = ``-Xmx``)
of an eighth of MemTotal, so the JVM's resident size settles early.
The loop is closed with one client: each operation starts when the
previous one and its checks have finished.

A run:

1. generates (or reuses) the input table; not part of any metric;
2. sets the session up ``SETUPS`` times (start, worker packaging) and
   reports the median of the restarts after the first as ``setup_s``; the
   first, which launches the JVM, is reported as ``jvm_setup_s``;
3. runs one operation, checked but untimed, on a ``WARMUP_ROWS`` table
   of the same seed, so the JIT, codegen caches and Python workers are
   warm for every phase before timing;
4. runs operations (:mod:`jobbench.workloads`) until ``--seconds`` have
   passed, each into a fresh output directory, and checks every one; an
   operation that could not end by ``DEADLINE_S`` is not started;
5. with ``--trace 1``, runs one more operation with spans on
   (:mod:`jobbench.trace`) and reports per-layer counters.

It prints a readable report, writes the full record (host facts, load
average and hypervisor CPU steal around each operation, every sample) to
``.jobbench/results/``, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
medians (``--trace 0``) or the per-layer counters (``--trace 1``).

Self-test: ``python3 -m pytest jobbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".jobbench")
REQUIRED = ("loc2vec_spark/__init__.py", "jobs/run_tiling.py",
            "jobs/run_mining.py")

DEFAULT_ROWS = 2000
# rows of the warm-up table: the first 200 rows of a seed hold every row
# class (JPEG, truncated bytes, caption without coordinates)
WARMUP_ROWS = 200
SETUPS = 5
DEADLINE_S = 150.0  # run time by which the last operation must have ended

E2E_UNITS = {"setup_s": "s", "job_s": "s", "scan_s": "s",
             "region_scan_s": "s", "resume_s": "s", "output_files": "count",
             "output_bytes": "bytes", "peak_rss_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tiling", "mining"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=DEFAULT_ROWS,
                    help="rows in the input table")
    return ap.parse_args(argv)


def configure_env(procfs) -> dict:
    """Size the session to the host through the engine's own knobs, and
    keep every scratch file inside the checkout. Returns the extra
    SparkConf to pass to the first ``get_spark``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    heap_mib = max(1024, min(8192, procfs.mem_total_bytes() // 8 >> 20))
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{procfs.nproc()}]"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mib}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{heap_mib}m -Djava.io.tmpdir={tmp}"}


def summary(values: list[float]) -> dict:
    return {"median": statistics.median(values), "min": min(values),
            "max": max(values), "n": len(values)}


class Run:
    """One benchmark run: session, samples and telemetry."""

    def __init__(self, args) -> None:
        from jobbench import procfs, workloads
        self.args = args
        self.procfs = procfs
        self.wl = workloads.WORKLOADS[args.workload]
        self.workloads = workloads
        self.record = {"workload": args.workload, "seed": args.seed,
                       "rows": args.rows, "seconds": args.seconds,
                       "trace": args.trace, "ops": []}
        self.spark = None
        self.gateway_proc = None
        self.jvm_pid = None
        self.tracer = None
        self.rss_peak = 0
        self.attempted = self.failed = 0
        self.digests: set[str] = set()

    # -- set-up --------------------------------------------------------------

    def setup(self, conf: dict) -> None:
        from pyspark import SparkContext
        from loc2vec_spark import packaging, session
        times = []
        for i in range(SETUPS):
            last = i == SETUPS - 1
            if last and self.tracer is not None:
                self.tracer.active = True
            t0 = time.perf_counter()
            ctx = (self.tracer.span("setup") if self.tracer and last
                   else nullcontext())
            with ctx:
                spark = session.get_spark(extra_conf=conf)
                packaging.ensure_workers_can_import(spark)
            times.append(time.perf_counter() - t0)
            if self.tracer is not None:
                self.tracer.active = False
            if i == 0:
                self.gateway_proc = getattr(SparkContext._gateway, "proc",
                                            None)
            if not last:
                # a new context gets new workers: forget the old one's
                # registration so packaging runs again
                packaging._REGISTERED.discard(id(spark.sparkContext))
                spark.stop()
        self.spark = spark
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer is not None:
            self.tracer.jvm_pid = self.jvm_pid
        self.record["jvm_setup_s"] = times[0]
        self.record["setup_samples"] = times[1:]

    # -- operations ----------------------------------------------------------

    def op(self, job, images, expect, region, joblog, label, span=None):
        out = os.path.join(WORK, "runs", f"{os.getpid()}-{label}")
        shutil.rmtree(out, ignore_errors=True)
        load0 = self.procfs.loadavg()
        steal0 = self.procfs.steal_seconds()
        t0 = time.perf_counter()
        try:
            res = self.workloads.run_op(self.spark, self.wl, job, images,
                                        out, expect, region, span=span)
        except Exception as e:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            res = self.workloads.OpResult(errors=[f"{type(e).__name__}: {e}"])
        wall = time.perf_counter() - t0
        steal = self.procfs.steal_seconds() - steal0
        self.spark.catalog.clearCache()
        jobs = joblog.drain()
        self.sample_rss()
        shutil.rmtree(out, ignore_errors=True)
        rec = {"label": label, "wall_s": wall, "times": res.times,
               "phase_samples": res.phase_samples,
               "output_files": res.output_files,
               "output_bytes": res.output_bytes,
               "output_dirs": res.output_dirs,
               "committed_rows": res.committed_rows, "digest": res.digest,
               "errors": res.errors, "loadavg_before": load0,
               "loadavg_after": self.procfs.loadavg(),
               "steal_s": steal,
               "spark": {"jobs": len(jobs),
                         **{k: sum(j[k] for j in jobs)
                            for k in ("tasks", "exec_run_s",
                                      "shuffle_write_bytes",
                                      "spill_bytes")}}}
        self.record["ops"].append(rec)
        return res, jobs, rec

    def sample_rss(self) -> None:
        workers = self.procfs.python_workers(self.jvm_pid)
        jvm = self.procfs.peak_rss_bytes([self.jvm_pid])
        py = self.procfs.peak_rss_bytes(workers)
        self.rss_peak = max(self.rss_peak, jvm + py)
        self.record.setdefault("rss_samples", []).append(
            {"jvm_hwm_mb": jvm / (1 << 20), "python_hwm_mb": py / (1 << 20),
             "python_procs": len(workers)})

    # -- teardown ------------------------------------------------------------

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process."""
        from pyspark import SparkContext
        procs = (self.procfs.descendants(self.jvm_pid)
                 if self.jvm_pid else [])
        if self.spark is not None:
            self.spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
        proc = self.gateway_proc
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        for pid in procs:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"jobbench: not a loc2vec_spark checkout, missing "
              f"{', '.join(missing)} under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from jobbench import inputs, procfs
    t_start = time.perf_counter()
    steal0 = procfs.steal_seconds()
    run = Run(args)
    rec = run.record
    rec["host"] = procfs.host_facts(ROOT)
    conf = configure_env(procfs)
    rec["env"] = {k: os.environ[k] for k in ("SPARK_GRAFT_MASTER",
                                             "SPARK_GRAFT_DRIVER_MEM")}

    cache = os.path.join(WORK, "inputs")
    images, rec["gen_s"] = inputs.ensure_images(cache, args.seed, args.rows)
    warm_images, gen_s = inputs.ensure_images(
        cache, args.seed, min(args.rows, WARMUP_ROWS))
    rec["gen_s"] += gen_s
    expect = inputs.expected_counts(args.seed, args.rows)
    warm_expect = inputs.expected_counts(args.seed,
                                         min(args.rows, WARMUP_ROWS))
    rec["expect"] = expect

    if args.trace:
        from jobbench.trace import Tracer
        run.tracer = Tracer()
        run.tracer.install()
    try:
        try:
            run.setup(conf)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            print("jobbench: session set-up failed", file=sys.stderr)
            return 1
        rec["host"]["java"] = str(
            run.spark._jvm.java.lang.System.getProperty("java.version"))
        from jobbench.trace import JobLog
        joblog = JobLog(run.spark.sparkContext)
        job = run.workloads.load_job(ROOT, run.wl.job)
        region = run.workloads.region_cells()

        warm, _, wrec = run.op(job, warm_images, warm_expect, region,
                               joblog, "warmup")
        rec["warmup_s"] = wrec["wall_s"]
        run.attempted += 1
        run.failed += bool(warm.errors)

        samples: dict[str, list[float]] = {}
        t_measure = time.perf_counter()
        n = 0
        longest = 0.0  # the traced operation needs room after the loop
        while n == 0 or (
                time.perf_counter() - t_measure < args.seconds
                and time.perf_counter() - t_start
                + longest * (1 + args.trace) < DEADLINE_S):
            res, _, orec = run.op(job, images, expect, region, joblog,
                                  f"op{n}")
            longest = max(longest, orec["wall_s"])
            n += 1
            run.attempted += 1
            if res.digest:
                run.digests.add(res.digest)
            if res.errors:
                run.failed += 1
                continue
            for k, v in res.times.items():
                samples.setdefault(k, []).append(v)
            for k in ("output_files", "output_bytes"):
                samples.setdefault(k, []).append(getattr(res, k))
        rec["measure_s"] = time.perf_counter() - t_measure

        layers = None
        if args.trace:
            layers = traced_op(run, job, images, expect, region, joblog,
                               samples)
    finally:
        if run.tracer is not None:
            run.tracer.uninstall()
        t0 = time.perf_counter()
        run.close()
        rec["close_s"] = time.perf_counter() - t0

    if len(run.digests) > 1:
        run.failed += 1
        rec["digest_error"] = "operations of one run committed different output"
    run.failed += check_digest_history(rec, run)
    rec["samples"] = samples
    e2e = {}
    if run.record["setup_samples"]:
        e2e["setup_s"] = summary(run.record["setup_samples"])
    for k, v in samples.items():
        e2e[k] = summary(v)
    e2e["peak_rss_mb"] = summary([run.rss_peak / (1 << 20)])
    rec["end_to_end"] = e2e
    rec["failed_ops_frac"] = run.failed / run.attempted
    rec["layers"] = layers
    rec["wall_s"] = time.perf_counter() - t_start
    rec["steal_s"] = procfs.steal_seconds() - steal0
    path = write_record(rec)

    print_report(rec, path)
    if args.trace:
        metrics = layers
    else:
        metrics = {k: {"value": e2e[k]["median"], "unit": u}
                   for k, u in E2E_UNITS.items() if k in e2e}
    correct = run.failed == 0 and set(metrics) >= (
        set(E2E_UNITS) if not args.trace else set())
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def traced_op(run, job, images, expect, region, joblog, samples) -> dict:
    """One operation with spans on; returns the per-layer metrics."""
    from jobbench import trace
    tracer = run.tracer
    tracer.active = True
    try:
        res, jobs, rec = run.op(job, images, expect, region, joblog,
                                "traced", span=tracer.span)
    finally:
        tracer.active = False
    run.attempted += 1
    run.failed += bool(res.errors)
    if res.digest:
        run.digests.add(res.digest)
    cores = run.procfs.nproc()
    # Layers are attributed within one root span: set-up layers within the
    # last set-up, every other layer within the job, so neither the
    # job's own session lookup nor the resume that follows it counts.
    roots = {s.name: s for s in tracer.spans if s.parent is None}
    setup = tracer.span_counters(jobs, cores, roots["setup"].sid)
    per_span = tracer.span_counters(jobs, cores, roots["job"].sid)
    run.record["spans"] = [vars(s) for s in tracer.spans]
    run.record["span_counters"] = {"setup": setup, "job": per_span}

    def get(name, key):
        src = setup if name in trace.SETUP_SPANS else per_span
        return float(src.get(name, {}).get(key, 0.0))

    m = {}
    for name in trace.TRACED:
        keys = (trace.TIME_COUNTERS if name in trace.SETUP_SPANS
                else trace.TIME_COUNTERS + trace.SPARK_COUNTERS)
        for k in keys:
            m[f"{name}.{k}"] = get(name, k)
    m["images.worker_cpu_s"] = get("images.image_features", "worker_cpu_s")
    m["images.quarantined"] = get("images.image_features", "quarantined")
    m["lineage.output_dirs"] = float(res.output_dirs)
    m["lineage.rows_per_file"] = (res.committed_rows / res.data_files
                                  if res.data_files else 0.0)
    pairs = sum(get(n, "pairs") for n in ("triplets.spatial_positive",
                                          "triplets.knn_topk"))
    anchors = sum(get(n, "anchors") for n in ("triplets.spatial_positive",
                                              "triplets.knn_topk"))
    m["triplets.pairs_per_anchor"] = pairs / anchors if anchors else 0.0
    # a layer's self time: the job's time whose innermost span is one of
    # the layer's (lineage.write_resumable's own work sits mostly in its
    # nested lineage.write_partitioned)
    for layer in ("geo", "images", "triplets", "lineage"):
        m[f"layer.{layer}.self_s"] = sum(
            (c["self_s"] for n, c in per_span.items()
             if n.split(".")[0] == layer), 0.0)
    m["unattributed_s"] = tracer.self_seconds(roots["job"])
    job_untraced = statistics.median(samples.get("job_s") or [0.0])
    m["trace_overhead_s"] = res.times.get("job_s", 0.0) - job_untraced
    return {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}


def unit_of(name: str) -> str:
    k = name.rsplit(".", 1)[-1]
    if name.endswith("_s"):
        return "s"
    return {"shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
            "idle_frac": "ratio", "rows_per_file": "rows/file",
            "pairs_per_anchor": "pairs/anchor"}.get(k, "count")


def check_digest_history(rec, run) -> int:
    """Same workload, seed and rows must commit the same output in every
    run of any version of the program, so a change that alters what the
    jobs commit counts as a failure; returns 1 if this run disagrees with
    an earlier one."""
    if not run.digests or len(run.digests) > 1:
        return 0
    (digest,) = run.digests
    d = os.path.join(WORK, "digests")
    os.makedirs(d, exist_ok=True)
    key = f"{rec['workload']}-seed{rec['seed']}-rows{rec['rows']}"
    path = os.path.join(d, key)
    if os.path.exists(path):
        with open(path) as f:
            earlier = f.read().strip()
        if earlier != digest:
            rec["digest_error"] = f"output digest differs from {path}"
            return 1
        return 0
    with open(path, "w") as f:
        f.write(digest + "\n")
    return 0


def write_record(rec) -> str:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(
        d, f"{rec['workload']}-seed{rec['seed']}-trace{rec['trace']}-"
           f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    return path


def print_report(rec, path) -> None:
    h = rec["host"]
    print(f"jobbench {rec['workload']} seed={rec['seed']} rows={rec['rows']}"
          f" | {rec['env']['SPARK_GRAFT_MASTER']} heap="
          f"{rec['env']['SPARK_GRAFT_DRIVER_MEM']} nproc={h['nproc']} "
          f"mem={h['mem_total_bytes'] / (1 << 30):.1f}GiB spark={h['spark']}"
          f" pyarrow={h['pyarrow']} numpy={h['numpy']}")
    print(f"  input generation {rec['gen_s']:.2f} s (not in setup_s); "
          f"jvm launch + first setup {rec['jvm_setup_s']:.2f} s; "
          f"warm-up operation {rec['warmup_s']:.2f} s; "
          f"cpu steal {rec['steal_s']:.2f} s")
    print(f"  {'metric':<16}{'median':>12}  {'unit':<6}{'n':>3}"
          f"{'min':>12}{'max':>12}")
    for k, unit in E2E_UNITS.items():
        s = rec["end_to_end"].get(k)
        if s:
            print(f"  {k:<16}{s['median']:>12.4f}  {unit:<6}{s['n']:>3}"
                  f"{s['min']:>12.4f}{s['max']:>12.4f}")
    print(f"  failed_ops_frac {rec['failed_ops_frac']:.4f} "
          f"(failed or incorrect / attempted)")
    for op in rec["ops"]:
        for e in op["errors"]:
            print(f"  FAILED {op['label']}: {e}")
    if rec.get("digest_error"):
        print(f"  FAILED: {rec['digest_error']}")
    if rec.get("layers"):
        print("  per-layer (traced operation):")
        for k, v in rec["layers"].items():
            print(f"    {k:<58}{v['value']:>14.4f} {v['unit']}")
    print(f"  record: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
