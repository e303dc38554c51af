from __future__ import annotations

import os

from trianglecount_spark.streaming.edges_stream import (
    read_edge_stream,
    run_available_now,
    stream_degree_counts,
    stream_edges,
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "src long, dst long, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_windowed_event_counts_matches_batch(spark):
    """The availableNow drain of the windowed agg must equal the batch
    computation restricted to watermark-closed windows (win_end <=
    max(ts) - delay) — the invariant the DuckDB oracle relies on."""
    from pyspark.sql import functions as F

    from trianglecount_spark.streaming.edges_stream import windowed_event_counts

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in windowed_event_counts(spark, sf).collect()}

    ev = spark.read.parquet(f"{sf}/events.parquet")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("w"))
    batch = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("win_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "value_cents"
            ),
        )
        .join(wm)
        .where(F.col("win_start") + F.expr("INTERVAL 1 HOUR") <= F.col("w"))
        .drop("w")
    )
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_session_event_counts_matches_batch(spark):
    """Streamed session windows must equal batch-mode session_window
    restricted to watermark-closed sessions (sess_end <= max(ts) - delay)."""
    from pyspark.sql import functions as F

    from trianglecount_spark.streaming.edges_stream import session_event_counts

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in session_event_counts(spark, sf).collect()}

    ev = spark.read.parquet(f"{sf}/events.parquet")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("w"))
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
        .join(wm)
        .where(F.col("sess_end") <= F.col("w"))
        .drop("w")
    )
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_edges_and_degrees(spark, tmp_path):
    import datetime as dt

    src_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    _write_batch(
        spark,
        src_dir,
        [
            (0, 1, t0),
            (1, 2, t0 + dt.timedelta(minutes=5)),
            (2, 2, t0),  # self-loop dropped
            (0, 2, t0 + dt.timedelta(hours=5)),  # much later window
        ],
    )
    raw = read_edge_stream(spark, src_dir)
    run_available_now(stream_edges(raw), out_dir, ckpt)
    got = {(r.src, r.dst) for r in spark.read.parquet(out_dir).collect()}
    assert got == {(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0)}

    # incremental: a second batch is picked up without reprocessing
    _write_batch(spark, src_dir, [(3, 4, t0 + dt.timedelta(hours=6))])
    run_available_now(stream_edges(raw), out_dir, ckpt)
    got2 = spark.read.parquet(out_dir).count()
    assert got2 == 8  # 6 + 2 new symmetric rows

    # windowed degree agg with watermark: old windows finalize and emit
    deg_out = str(tmp_path / "deg")
    deg_ckpt = str(tmp_path / "deg_ckpt")
    run_available_now(stream_degree_counts(raw, "1 hour", "2 hours"), deg_out, deg_ckpt)
    assert os.path.isdir(deg_out)
    deg = spark.read.parquet(deg_out)
    assert set(deg.columns) == {"win_start", "v", "deg"}


def test_streamed_dedup_keys_matches_batch_distinct(spark):
    """Streaming dropDuplicatesWithinWatermark must land on exactly the
    distinct key set — the closed form the DuckDB oracle uses."""
    from trianglecount_spark.streaming.edges_stream import streamed_dedup_keys

    sf = "/root/testdata/sf0.001"
    got = {(r.user_id, r.event_type) for r in streamed_dedup_keys(spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    want = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_attribution_equals_batch(spark, tmp_path):
    import datetime as dt

    from trianglecount_spark.streaming.edges_stream import stream_attribution_pairs

    # 3 separate files + maxFilesPerTrigger=1 => 3 micro-batches; clicks
    # and purchases split ACROSS batches so the join state genuinely
    # carries between triggers
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, uid, etype):
        return (eid, base + dt.timedelta(minutes=minutes), uid, etype, 1.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    batches = [
        [ev(1, 0, 1, "click"), ev(2, 100, 2, "click")],
        [ev(3, 10, 1, "purchase"), ev(4, 95, 2, "view")],
        [ev(5, 120, 2, "purchase"), ev(6, 125, 1, "click"), ev(7, 130, 1, "purchase")],
    ]
    import pandas as pd

    for i, rows in enumerate(batches):
        # plain single-file parquet (pathGlobFilter matches LEAF names,
        # so a Spark-written directory would never match ev*.parquet)
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        # micros, not nanos — Spark's parquet reader wants TIMESTAMP(MICROS)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf.to_parquet(str(tmp_path / f"ev{i}.parquet"), index=False)
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in stream_attribution_pairs(
            spark, str(tmp_path), glob="ev*.parquet", max_files_per_trigger=1
        ).collect()
    }
    # expected: click 1 -> purchase 3 (10 min), click 2 -> purchase 5
    # (20 min), click 6 -> purchase 7 (5 min); click 1 NOT -> purchase 7
    # (130 min > 30 min lookback)
    assert got == {(1, 1, 3), (2, 2, 5), (1, 6, 7)}


def test_spend_alarms_state_across_batches(spark, tmp_path):
    import datetime as dt

    import pandas as pd

    from trianglecount_spark.streaming.edges_stream import spend_alarms

    # 3 files + maxFilesPerTrigger=1 => 3 micro-batches; user 1's
    # running total must CARRY between triggers (GroupState): $30 + $30
    # crosses the $50 threshold only if batch 2 sees batch 1's state
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, uid, etype, value):
        return (eid, base + dt.timedelta(minutes=minutes), uid, etype, value, "{}")

    batches = [
        [ev(1, 0, 1, "purchase", 30.0), ev(2, 1, 2, "purchase", 120.0)],
        [ev(3, 10, 1, "purchase", 30.0), ev(4, 11, 2, "view", 999.0)],
        [ev(5, 20, 1, "purchase", 45.0)],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf.to_parquet(str(tmp_path / f"al{i}.parquet"), index=False)
    got = {
        (r.user_id, r.event_id): (r.cum_cents, r.level)
        for r in spend_alarms(
            spark,
            str(tmp_path),
            threshold_cents=5000,
            glob="al*.parquet",
            max_files_per_trigger=1,
        ).collect()
    }
    # user 1: 3000 (no), 6000 (level 1, needs batch-1 state), 10500 (2)
    # user 2: 12000 at once (level 2, single row for a 2-level jump)
    assert got == {
        (1, 3): (6000, 1),
        (1, 5): (10500, 2),
        (2, 2): (12000, 2),
    }


def test_sliding_windows_match_batch_closed_form(spark):
    from pyspark.sql import functions as F

    from trianglecount_spark.streaming.edges_stream import sliding_event_counts

    sf = "/root/testdata/sf0.001"
    got = sliding_event_counts(spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    wm = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "value_cents"
            ),
        )
        .where(F.col("w.end") <= F.lit(wm) - F.expr("INTERVAL 2 HOURS"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "value_cents")
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    # sliding: total window memberships = 2x the emitted-range events
    assert got.count() > 0


def test_streamed_upsert_state_batching_independent(spark, tmp_path):
    import datetime as dt

    import pandas as pd

    from trianglecount_spark.streaming.edges_stream import streamed_upsert_state

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, minutes, uid, etype):
        return (eid, base + dt.timedelta(minutes=minutes), uid, etype, 1.0, "{}")

    batches = [
        [ev(1, 0, 1, "view"), ev(2, 5, 2, "click")],
        [ev(3, 10, 1, "purchase")],
        [ev(4, 3, 2, "view"), ev(5, 20, 1, "click")],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf.to_parquet(str(tmp_path / f"up{i}.parquet"), index=False)
    got = {
        r.user_id: (r.last_event_id, r.last_type, r.n_events)
        for r in streamed_upsert_state(
            spark, str(tmp_path), glob="up*.parquet", max_files_per_trigger=1
        ).collect()
    }
    # user 1: latest is event 5 (t=20), 3 events; user 2: event 2
    # (t=5; event 4 is EARLIER and arrives in a later batch — the merge
    # must not overwrite newer state with older data)
    assert got == {1: (5, "click", 3), 2: (2, "click", 2)}


def test_stream_checkpoints_do_not_outlive_their_query(spark):
    """A drained stream's checkpoint dir is removed when its query
    ends: the ``tc_*_ckpt_*`` entries in the temp dir are the same
    before and after a call (the ``out`` dirs back the returned lazy
    reads and stay)."""
    import glob
    import tempfile

    from trianglecount_spark.streaming.edges_stream import (
        streamed_upsert_state,
        windowed_event_counts,
    )

    def checkpoints():
        return sorted(glob.glob(os.path.join(tempfile.gettempdir(), "tc_*_ckpt_*")))

    sf = "/root/testdata/sf0.001"
    before = checkpoints()
    assert windowed_event_counts(spark, sf).count() > 0
    assert streamed_upsert_state(spark, sf).count() > 0
    assert checkpoints() == before
