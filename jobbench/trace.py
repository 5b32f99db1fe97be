"""Spans around the engine's public functions, for the traced run.

:class:`Tracer` replaces each function in :data:`TRACED` by a wrapper on
its module, so calls made through the module attribute (including calls
between functions of one module) open a span with a name, start, end and
parent. Inside the span the wrapper forces and caches any DataFrame the
function returns, so the lazy work lands in the span that defined it, and
it tags the span's Spark jobs with ``setJobGroup`` so :class:`JobLog` can
attribute stage counters from the JVM status store to the span.

Probes (counter reads that need their own Spark job or ``/proc`` reads)
run with the trace clock stopped and under their own job group, so they
add to no span.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import procfs

# span name -> (module, attribute)
TRACED = {
    "session.get_spark": ("loc2vec_spark.session", "get_spark"),
    "packaging.ensure_workers_can_import":
        ("loc2vec_spark.packaging", "ensure_workers_can_import"),
    "geo.with_latlon": ("loc2vec_spark.operators.geo", "with_latlon"),
    "geo.with_cells": ("loc2vec_spark.operators.geo", "with_cells"),
    "images.image_features":
        ("loc2vec_spark.operators.images", "image_features"),
    "triplets.triplet_table_spatial":
        ("loc2vec_spark.operators.triplets", "triplet_table_spatial"),
    "triplets.spatial_positive":
        ("loc2vec_spark.operators.triplets", "spatial_positive"),
    "triplets.negative_sample_farcell_pooled":
        ("loc2vec_spark.operators.triplets",
         "negative_sample_farcell_pooled"),
    "triplets.knn_topk": ("loc2vec_spark.operators.triplets", "knn_topk"),
    "lineage.write_resumable": ("loc2vec_spark.lineage", "write_resumable"),
    "lineage.resume_filter": ("loc2vec_spark.lineage", "resume_filter"),
    "lineage.write_partitioned":
        ("loc2vec_spark.lineage", "write_partitioned"),
}
# spans that run no Spark job: only their times are reported
SETUP_SPANS = ("session.get_spark", "packaging.ensure_workers_can_import")
TIME_COUNTERS = ("wall_s", "self_s")
SPARK_COUNTERS = ("rows_out", "spark_jobs", "tasks", "exec_run_s",
                  "shuffle_write_bytes", "spill_bytes", "idle_frac")
JOB_FIELDS = ("tasks", "exec_run_s", "shuffle_write_bytes", "spill_bytes")

_GROUP_KEY = "spark.jobGroup.id"
PROBE_GROUP = "jobbench-probe"


def _group(sid: int) -> str:
    return f"jobbench-span-{sid}"


def _active_sc():
    from pyspark import SparkContext
    return SparkContext._active_spark_context


def _set_group(group: str | None) -> None:
    sc = _active_sc()
    if sc is not None:
        sc.setLocalProperty(_GROUP_KEY, group)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows_out: int = 0
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``active``; calls pass straight through
    otherwise, so the wrappers can stay installed between traced ops."""

    def __init__(self, jvm_pid: int | None = None) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.jvm_pid = jvm_pid
        self._stack: list[int] = []
        self._paused = 0.0
        self._saved: list[tuple] = []

    def clock(self) -> float:
        """Wall clock minus time spent in probes."""
        return time.perf_counter() - self._paused

    @contextmanager
    def probe(self):
        t0 = time.perf_counter()
        _set_group(PROBE_GROUP)
        try:
            yield
        finally:
            _set_group(_group(self._stack[-1]) if self._stack else None)
            self._paused += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, self.clock())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        _set_group(_group(sp.sid))
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            _set_group(_group(parent) if parent is not None else None)

    def install(self) -> None:
        for name, (mod_name, attr) in TRACED.items():
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(name, fn))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            pre = self._pre(name, args)
            with self.span(name) as sp:
                out = _force(fn(*args, **kwargs), sp)
            self._post(name, sp, pre, out)
            return out
        return traced

    # -- per-span extra counters -------------------------------------------

    def _worker_cpu(self) -> float:
        if self.jvm_pid is None:
            return 0.0
        return procfs.cpu_seconds(procfs.python_workers(self.jvm_pid))

    def _pre(self, name: str, args: tuple):
        if name != "images.image_features":
            return None
        with self.probe():
            rows_in = args[0].filter("bytes IS NOT NULL").count()
            return rows_in, self._worker_cpu()

    def _post(self, name: str, sp: Span, pre, out) -> None:
        if name == "images.image_features":
            rows_in, cpu0 = pre
            with self.probe():
                sp.extra["worker_cpu_s"] = self._worker_cpu() - cpu0
                sp.extra["quarantined"] = rows_in - sp.rows_out
        elif name in ("triplets.spatial_positive", "triplets.knn_topk"):
            with self.probe():
                pairs = candidate_pairs(out)
                anchors = (sp.rows_out if name == "triplets.spatial_positive"
                           else out.select("anchor_id").distinct().count())
                sp.extra["pairs"] = pairs
                sp.extra["anchors"] = anchors

    # -- attribution ---------------------------------------------------------

    def self_seconds(self, sp: Span) -> float:
        children = [c for c in self.spans if c.parent == sp.sid]
        return (sp.end - sp.start) - sum(c.end - c.start for c in children)

    def subtree(self, root: int) -> list[Span]:
        """The spans below ``root`` (not ``root`` itself)."""
        out, todo = [], [root]
        while todo:
            sid = todo.pop()
            kids = [c for c in self.spans if c.parent == sid]
            out.extend(kids)
            todo.extend(c.sid for c in kids)
        return out

    def span_counters(self, jobs: list[dict], cores: int,
                      root: int | None = None) -> dict:
        """Per span name: times summed over its occurrences, and stage
        counters of its jobs and its descendants' jobs. With ``root``,
        only the spans below that span count."""
        own: dict[int, dict] = {}
        for rec in jobs:
            grp = rec["group"] or ""
            if not grp.startswith("jobbench-span-"):
                continue
            acc = own.setdefault(int(grp.rsplit("-", 1)[1]),
                                 dict.fromkeys(("spark_jobs",) + JOB_FIELDS,
                                               0))
            acc["spark_jobs"] += 1
            for k in JOB_FIELDS:
                acc[k] += rec[k]

        def inclusive(sid: int) -> dict:
            acc = dict(own.get(sid) or dict.fromkeys(
                ("spark_jobs",) + JOB_FIELDS, 0))
            for c in self.spans:
                if c.parent == sid:
                    for k, v in inclusive(c.sid).items():
                        acc[k] += v
            return acc

        out: dict[str, dict] = {}
        for sp in self.spans if root is None else self.subtree(root):
            agg = out.setdefault(sp.name, {"wall_s": 0.0, "self_s": 0.0,
                                           "rows_out": 0, "count": 0,
                                           "spark_jobs": 0, "tasks": 0,
                                           "exec_run_s": 0.0,
                                           "shuffle_write_bytes": 0,
                                           "spill_bytes": 0})
            agg["count"] += 1
            agg["wall_s"] += sp.end - sp.start
            agg["self_s"] += self.self_seconds(sp)
            agg["rows_out"] += sp.rows_out
            for k, v in inclusive(sp.sid).items():
                agg[k] += v
            for k, v in sp.extra.items():
                agg[k] = agg.get(k, 0) + v
        for agg in out.values():
            busy = agg["wall_s"] * cores
            agg["idle_frac"] = 1.0 - agg["exec_run_s"] / busy if busy else 0.0
        return out


def _force(out, sp: Span):
    """Materialise what a traced function returns, inside its span."""
    from pyspark.sql import DataFrame
    if isinstance(out, DataFrame):
        out = out.cache()
        sp.rows_out = out.count()
    elif isinstance(out, dict) and all(isinstance(v, dict) and "rows" in v
                                       for v in out.values()):
        sp.rows_out = sum(int(v["rows"]) for v in out.values())
    return out


# -- JVM-side readers ---------------------------------------------------------

def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


class JobLog:
    """Reads finished jobs out of the JVM status store of one
    SparkContext. The store keeps only the newest 1,000 jobs and stages,
    so call :meth:`drain` after every operation."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()

    def drain(self) -> list[dict]:
        from py4j.protocol import Py4JJavaError
        store = self._sc._jsc.sc().statusStore()
        jobs = sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId())
        out = []
        for j in jobs:
            jid = j.jobId()
            if jid in self._seen_jobs or str(j.status()) == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            grp = j.jobGroup()
            rec = {"job": jid, "group": grp.get() if grp.isDefined() else None,
                   "tasks": 0, "exec_run_s": 0.0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0}
            # a stage reused by a later job is listed by both; count it
            # for the first job only
            for sid in _seq(j.stageIds()):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    continue
                rec["tasks"] += st.numCompleteTasks()
                rec["exec_run_s"] += st.executorRunTime() / 1000.0
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.diskBytesSpilled()
            out.append(rec)
        return out


def _children(node) -> list:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    if name == "InMemoryTableScan":
        return []  # another span's cached frame
    return _seq(node.children())


def candidate_pairs(df) -> int:
    """Output rows of the cell-blocked pair join in the materialised plan
    of a cached frame (the join matching ``nb_cell`` to ``c_cell``), or 0
    if the plan has no such join."""
    spark = df.sparkSession
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(df._jdf)
    if cached.isEmpty():
        return 0
    todo = [cached.get().cachedRepresentation().cacheBuilder().cachedPlan()]
    pairs = 0
    while todo:
        node = todo.pop()
        if "Join" in node.nodeName():
            text = node.simpleString(100)
            metrics = node.metrics()
            if ("nb_cell" in text and "c_cell" in text
                    and metrics.contains("numOutputRows")):
                pairs += metrics.apply("numOutputRows").value()
        todo.extend(_children(node))
    return pairs
