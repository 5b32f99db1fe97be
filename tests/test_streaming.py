"""Windowed event surfaces: the registered sliding-window query."""


def test_events_sliding_double_counts_each_event(spark):
    """600s/300s sliding windows: every event lands in exactly two
    windows, so the window-count surface sums to 2x the input and each
    (window, type) group is consistent with the tumbling face."""
    from loc2vec_spark import queries as q
    sf = "/root/testdata/sf0.01"
    out = q.run_spark(spark, sf, "events_sliding")
    total = out.agg({"n": "sum"}).collect()[0][0]
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert total == 2 * n_events
    starts = [r.win_start_epoch for r in out.select("win_start_epoch")
              .distinct().collect()]
    assert all(s % 300 == 0 for s in starts)
