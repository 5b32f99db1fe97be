"""As-of join: the registered ``asof_events`` SQL face, on hand-built
rows and against DuckDB's native ASOF JOIN."""

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pytest

from loc2vec_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


def test_matches_duckdb_native_asof(spark, events):
    """Independent cross-check against DuckDB's built-in ASOF JOIN
    (different algorithm entirely). Native ASOF has no tie rule for
    equal-ts right rows, so compare on the unambiguous rows (unique
    (user_id, ts) on the view side — virtually all of them)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{SF}/events.parquet')")
    # native ASOF over the FULL view set; ambiguity handled by skipping
    # the affected CLICKS during comparison (filtering duplicate-ts view
    # rows out of the reference input would change which view earlier
    # clicks match, asserting a wrong expected value — review r2)
    native = con.execute("""
        WITH l AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
             r AS (SELECT user_id, ts, value FROM events
                   WHERE event_type = 'view')
        SELECT l.event_id, l.user_id, r.ts AS matched_ts,
               ROUND(r.value, 6) AS v
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """).fetchdf().set_index("event_id")
    dup = {(r[0], r[1]) for r in con.execute("""
        SELECT user_id, ts FROM events WHERE event_type = 'view'
        GROUP BY 1, 2 HAVING COUNT(*) > 1""").fetchall()}

    events.createOrReplaceTempView("events")
    mine = {r["event_id"]: r["asof_view_value"]
            for r in spark.sql(QUERIES["asof_events"].spark_sql).collect()}
    n_checked = 0
    for eid, row in native.iterrows():
        if pd.isna(row["v"]):
            continue
        if (row["user_id"], row["matched_ts"]) in dup:
            continue  # native ASOF has no tie rule for equal-ts rights
        assert mine[eid] == pytest.approx(row["v"], abs=1e-9), eid
        n_checked += 1
    assert n_checked > 1000  # the check has teeth


def test_semantics_handbuilt(spark):
    """Inclusive boundary, tie-break by max id, NULL before any view."""
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    spark.createDataFrame(
        [(1, 1, t(5), "view", 1.0), (2, 1, t(5), "view", 2.0),
         (3, 1, t(7), "view", 7.0), (4, 9, t(1), "view", 9.0),
         (100, 1, t(5), "click", 0.5), (101, 1, t(10), "click", 0.5),
         (102, 2, t(3), "click", 0.5)],
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING, "
        "value DOUBLE").createOrReplaceTempView("events")
    out = {r["event_id"]: r["asof_view_value"]
           for r in spark.sql(QUERIES["asof_events"].spark_sql).collect()}
    spark.catalog.dropTempView("events")
    assert set(out) == {100, 101, 102}  # one row per click
    assert out[100] == 2.0   # inclusive ts=5; max-id tie wins over 1.0
    assert out[101] == 7.0   # latest prior
    assert out[102] is None  # user 2 has no views at all


def test_randomized_against_python_reference(spark):
    """50 random instances in ONE Spark pass (case id as the user_id)
    vs a brute-force python as-of: the asof_events query matches on
    duplicates, ties, empty sides, and boundary hits."""
    rng = np.random.default_rng(123)
    t0 = dt.datetime(2024, 1, 1)
    rows, expected = [], {}
    vid, cid = 0, 10_000
    for case in range(50):
        n_c, n_v = rng.integers(0, 12, 2)
        vs = sorted(
            [(int(rng.integers(0, 40)), float(rng.integers(0, 9)))
             for _ in range(n_v)])
        for ts, v in vs:
            vid += 1
            rows.append((vid, case, t0 + dt.timedelta(seconds=ts),
                         "view", v))
        for _ in range(n_c):
            ts = int(rng.integers(0, 45))
            cid += 1
            rows.append((cid, case, t0 + dt.timedelta(seconds=ts),
                         "click", 0.0))
            # python reference: latest view with v.ts <= ts; ties by
            # max view id (ids follow the ts-sorted order, so scan works)
            best = None
            for vts, vv in vs:
                if vts <= ts:
                    best = vv
            expected[cid] = best
    spark.createDataFrame(
        rows, "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, "
              "event_type STRING, value DOUBLE") \
        .createOrReplaceTempView("events")
    got = {r["event_id"]: r["asof_view_value"]
           for r in spark.sql(QUERIES["asof_events"].spark_sql).collect()}
    spark.catalog.dropTempView("events")
    assert got == expected
