"""Smoke self-test of the benchmark harness: ``python3 -m pytest jobbench``.

The last test runs the real benchmark on a tiny table (about a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from jobbench import inputs
from jobbench.trace import Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_inputs_are_seeded(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    inputs.write_images(a, seed=3, rows=60)
    inputs.write_images(b, seed=3, rows=60)
    inputs.write_images(c, seed=4, rows=60)
    ta, tb, tc = (pq.read_table(p).to_pylist() for p in (a, b, c))
    assert ta == tb
    assert [r["image_id"] for r in ta] != [r["image_id"] for r in tc]
    assert [r["fmt"] for r in ta] == [r["fmt"] for r in tc]
    assert sum(r["fmt"] == "jpeg" for r in ta) == 3
    assert all(r["bytes"][:2] == b"\xff\xd8"
               for r in ta if r["fmt"] == "jpeg")


def test_expected_counts():
    e = inputs.expected_counts(seed=1, rows=800)
    assert (e["bad_caption"], e["corrupt"]) == (3, 4)
    assert e["anchors_with_cell"] == 797 and e["decodable"] == 796


def test_ensure_images_caches(tmp_path):
    path, gen_s = inputs.ensure_images(str(tmp_path), seed=1, rows=8)
    assert gen_s > 0 and os.path.isdir(path)
    again, gen_s = inputs.ensure_images(str(tmp_path), seed=1, rows=8)
    assert (again, gen_s) == (path, 0.0)
    assert os.listdir(tmp_path) == ["seed1-rows8"]  # no temp dir left


def test_self_time_and_inclusive_counters():
    t = Tracer()
    t.spans = [Span(0, "root", None, 0.0, 10.0),
               Span(1, "a", 0, 1.0, 4.0),
               Span(2, "b", 1, 2.0, 3.0),
               Span(3, "a", 0, 5.0, 6.0)]
    assert t.self_seconds(t.spans[0]) == pytest.approx(6.0)
    assert t.self_seconds(t.spans[1]) == pytest.approx(2.0)
    jobs = [{"group": "jobbench-span-2", "tasks": 4, "exec_run_s": 2.0,
             "shuffle_write_bytes": 10, "spill_bytes": 0},
            {"group": "jobbench-span-3", "tasks": 1, "exec_run_s": 1.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0},
            {"group": "jobbench-probe", "tasks": 9, "exec_run_s": 9.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0}]
    c = t.span_counters(jobs, cores=2)
    assert c["a"]["count"] == 2
    assert c["a"]["wall_s"] == pytest.approx(4.0)
    assert c["a"]["self_s"] == pytest.approx(3.0)
    assert (c["a"]["spark_jobs"], c["a"]["tasks"]) == (2, 5)
    assert c["root"]["tasks"] == 5  # probe jobs belong to no span
    assert c["a"]["idle_frac"] == pytest.approx(1 - 3.0 / (4.0 * 2))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "jobbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "jobbench/run.py", "--workload",
                        "tiling", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


def test_tiny_traced_run():
    p = subprocess.run([sys.executable, "jobbench/run.py", "--workload",
                        "tiling", "--seed", "5", "--seconds", "1",
                        "--trace", "1", "--rows", "120"], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    m = result["metrics"]
    assert m["lineage.write_resumable.wall_s"]["value"] > 0
    assert m["triplets.spatial_positive.rows_out"]["value"] > 0
    assert m["images.image_features.wall_s"]["value"] == 0
