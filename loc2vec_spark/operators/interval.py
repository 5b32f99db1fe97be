"""Bucketed range (interval-containment) join.

The second classic temporal operator Spark's API lacks next to the
as-of join (the registered ``asof_events`` query): match point rows to
interval rows with
``start <= ts <= end`` per key. A naive ``ON ts BETWEEN start AND end``
theta join plans as BroadcastNestedLoopJoin (per-key cross product) —
quadratic in a hot key's history. The scale formulation buckets time:

1. points get one bucket id: ``floor(ts / width)``;
2. intervals explode into every bucket they overlap:
   ``sequence(floor(start/width), floor(end/width))``;
3. equi-join on (key, bucket) — an ordinary shuffled hash join —
   followed by the exact range predicate.

A (point, interval) pair can only meet in the point's single bucket, so
the output needs NO dedup. Cost: |P| + |I| x avg_buckets_per_interval
shuffled rows; ``bucket_width`` trades explode factor against candidate
precision the same way the cell grid does for space (pick width ~ the
median interval length; the geo analog is cells.choose_resolution).

The registered ``range_events`` query runs this operator; its DuckDB
oracle is the plain theta join — a genuinely different algorithm, so a
hash match checks the bucketing logic itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def range_join(points: DataFrame, intervals: DataFrame, *, key_col: str,
               ts_col: str, start_col: str, end_col: str,
               bucket_width: int) -> DataFrame:
    """Inner containment join: point rows x intervals they fall inside.

    ``ts_col``/``start_col``/``end_col`` must be numeric (e.g. epoch
    micros) and ``bucket_width`` in the same unit. Column sets of the
    two inputs must be disjoint apart from ``key_col``.
    """
    w = int(bucket_width)
    p = points.withColumn("_b", F.floor(F.col(ts_col) / w))
    iv = intervals.withColumn(
        "_b", F.explode(F.sequence(F.floor(F.col(start_col) / w),
                                   F.floor(F.col(end_col) / w))))
    out = p.join(iv, [key_col, "_b"]) \
           .filter(F.col(ts_col).between(F.col(start_col),
                                         F.col(end_col)))
    return out.drop("_b")
