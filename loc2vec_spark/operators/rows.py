"""One per-row runner for every binary-column operator.

Each media operator (images, audio, video, the webp/mp4 probes, audio
fingerprints) is a per-row kernel over an ``(id, bytes)`` frame;
:func:`map_bytes` owns the Arrow crossing they all share — one
``mapInPandas`` per operator, a batch loop, quarantine on error — so
the crossing and its failure policy live in one place.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T


def map_bytes(df: DataFrame, id_col: str, schema: T.StructType,
              kernel: Callable[[object, bytes], list]) -> DataFrame:
    """Run ``kernel(id, data)`` on every non-NULL ``bytes`` row of ``df``.

    The kernel returns the row's output rows (tuples in ``schema``
    order): none, one, or several for a fan-out. Any exception it
    raises quarantines the input row; the policy comes from the schema.
    When its second field is ``ok``, the row becomes
    ``(id, False, None, ...)``; otherwise it is dropped. Corrupt rows
    never abort the job (dead-letter semantics, SURVEY.md §2.8).
    """
    cols = schema.fieldNames()
    keep_failed = cols[1:2] == ["ok"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, data in zip(pdf[id_col], pdf["bytes"]):
                try:
                    rows.extend(kernel(rid, bytes(data)))
                except Exception:
                    if keep_failed:
                        rows.append((rid, False)
                                    + (None,) * (len(cols) - 2))
            # an empty batch gets object columns, which Arrow casts to
            # any field type (an empty float64 column does not cast to
            # array<float>)
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, "bytes").filter(
        "bytes IS NOT NULL").mapInPandas(gen, schema)
