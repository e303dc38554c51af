"""Structured Streaming ingestion for a continuously-crawled edge table.

The reference is batch-only (SURVEY.md §2.5: no streaming); this is the
[EXT] path a Common-Crawl-style pipeline needs: pages/edges land as
parquet files in a directory (the file-source contract also covers
Iceberg/Kafka swaps), and the stream maintains:

- ``stream_edges``        — canonicalized streaming edge rows,
- ``stream_degree_counts``— windowed degree aggregation with a
                            watermark for late data,
- both writable with ``availableNow`` trigger for testable, resumable
  incremental batches (checkpointLocation carries the stream state).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trianglecount_spark.sources import fsio

EDGE_EVENT_SCHEMA = "src long, dst long, ts timestamp"


def read_edge_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(EDGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(path)
    )


def stream_edges(raw: DataFrame) -> DataFrame:
    """Streaming canonicalization: drop self-loops, emit both directions.
    (Streaming dedup across the full history needs state; within the
    stream we rely on downstream idempotent sinks / batch compaction —
    the lambda-architecture split the reference's batch pipeline implies.)"""
    e = raw.where(F.col("src") != F.col("dst"))
    return e.select("src", "dst", "ts").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "ts")
    )


def stream_degree_counts(raw: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Windowed degree counts with late-data watermark:
    ``window, v, deg`` per event-time window."""
    sym = stream_edges(raw)
    return (
        sym.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("dst").alias("v"))
        .agg(F.count("*").alias("deg"))
        .select(F.col("w.start").alias("win_start"), "v", "deg")
    )


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)

WINDOWED_EVENTS_SCHEMA = (
    "win_start timestamp, event_type string, n_events long, value_cents long"
)


def windowed_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """[EXT] End-to-end streaming windowed aggregation over the driver's
    ``events`` table: file-source stream → event-time window + watermark →
    append-mode parquet sink drained with ``availableNow`` → read back as
    a batch DataFrame.

    Deterministic by construction: after the final no-data micro-batch
    the watermark settles at ``max(ts) - watermark_delay``, so the
    emitted set is exactly the windows with
    ``win_end <= max(ts) - delay`` — a closed-form predicate the DuckDB
    oracle reproduces (see oracle_sql()['events_stream_windows']).
    ``value`` is summed in integer cents (``floor(v*100 + 0.5)``) so the
    aggregate is order-independent and hash-exact across engines.
    """
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "value_cents")
    )
    out = _drain(agg, "stream")
    # explicit schema: an all-windows-open drain writes no files and a
    # schemaless read of the empty dir would fail
    return spark.read.schema(WINDOWED_EVENTS_SCHEMA).parquet(out)


SESSION_EVENTS_SCHEMA = (
    "sess_start timestamp, sess_end timestamp, user_id long, n_events long"
)


def session_event_counts(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """[EXT] Streaming sessionization over the ``events`` table via the
    stateful session-window operator (``F.session_window`` — merging
    state, not a tumbling bucket): events of one user belong to one
    session while consecutive gaps are strictly under ``gap``; the
    session's end is last-event + gap.

    Append-mode emission is deterministic the same way as
    ``windowed_event_counts``: after the final no-data micro-batch the
    watermark is ``max(ts) - delay``, so exactly the sessions with
    ``sess_end <= max(ts) - delay`` are emitted — the oracle reproduces
    that with a gaps-and-islands window query (new session when the gap
    is >= 30 min, mirroring session windows' exclusive end bound).
    """
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sw.start").alias("sess_start"),
            F.col("sw.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
    )
    out = _drain(agg, "sess")
    return spark.read.schema(SESSION_EVENTS_SCHEMA).parquet(out)


def sliding_event_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """[EXT] Streaming SLIDING-window aggregation (overlapping windows:
    every event belongs to window/slide = 2 windows) — the moving-rate
    dashboard shape. Same determinism argument as
    ``windowed_event_counts``: append mode emits exactly the windows
    with ``win_end <= max(ts) - delay`` once the availableNow drain
    settles the watermark, and the DuckDB oracle enumerates each
    event's two member windows closed-form (win_start = 30-min floor
    and that minus one slide). Integer-cents value sum keeps the
    aggregate order-independent."""
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )
    out = _drain(agg, "slide")
    return spark.read.schema(WINDOWED_EVENTS_SCHEMA).parquet(out)


SPEND_ALARMS_SCHEMA = "user_id long, event_id long, cum_cents long, level long"


def spend_alarms(
    spark: SparkSession,
    sf_dir: str,
    threshold_cents: int = 5000,
    glob: str = "events.parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """[EXT] CUSTOM stateful streaming operator via
    ``applyInPandasWithState`` — the escape hatch SURVEY §2.5 reserves
    for semantics no built-in stateful operator expresses: per-user
    RUNNING cumulative purchase spend with an alarm row emitted each
    time the total crosses a ``threshold_cents`` boundary (budget
    alerting / rate limiting). Windows can't express "running total
    since forever" and dropDuplicates/session_window don't carry
    numeric state; a GroupState holding ONE long per user does —
    state size is O(users), independent of stream length.

    Arrow-batched per group; inside the UDF the micro-batch's rows
    sort by (ts, event_id), so with time-ordered file arrival the
    emitted alarms are exactly the batch closed form: cum = running
    cents sum in (ts, event_id) order, emit when cum div threshold
    increases (one row per crossing event, carrying the new level).
    The DuckDB oracle is that window query verbatim."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )

    thr = int(threshold_cents)

    def fn(key, pdf_iter, state: GroupState):
        cum = state.get[0] if state.exists else 0
        uid = key[0]
        out_uid, out_eid, out_cum, out_lvl = [], [], [], []
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            # one micro-batch may hand the group over in several Arrow
            # chunks — order is only defined after concatenating them
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for eid, cents in zip(pdf["event_id"], pdf["cents"]):
                before = cum // thr
                cum += int(cents)
                level = cum // thr
                if level > before:
                    out_uid.append(uid)
                    out_eid.append(int(eid))
                    out_cum.append(cum)
                    out_lvl.append(level)
        state.update((cum,))
        yield pd.DataFrame(
            {
                "user_id": pd.Series(out_uid, dtype="int64"),
                "event_id": pd.Series(out_eid, dtype="int64"),
                "cum_cents": pd.Series(out_cum, dtype="int64"),
                "level": pd.Series(out_lvl, dtype="int64"),
            }
        )

    alarms = purchases.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SPEND_ALARMS_SCHEMA,
        stateStructType="cum long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _drain(alarms, "alarm")
    return spark.read.schema(SPEND_ALARMS_SCHEMA).parquet(out)


DEDUP_KEYS_SCHEMA = "user_id long, event_type string"


def streamed_dedup_keys(
    spark: SparkSession, sf_dir: str, watermark: str = "24 hours"
) -> DataFrame:
    """[EXT] Streaming ingest-dedup — the crawl-pipeline shape where
    re-fetched keys must be dropped ON INGEST, not in a later batch job:
    file-source stream → ``dropDuplicatesWithinWatermark`` on
    ``(user_id, event_type)`` (state is bounded by the watermark window,
    so it never grows with stream length — the property that makes this
    viable on an unbounded 100 TB crawl feed) → append parquet sink
    drained with ``availableNow`` → read back.

    Determinism: emitted rows carry the DEDUP KEY ONLY (never the
    arbitrary surviving row's payload), and a batch-side ``distinct``
    guards the batch-boundary case where a key's state expired between
    micro-batches and the key was re-emitted. The result is therefore
    exactly the distinct key set — closed-form for the DuckDB oracle."""
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dedup = (
        raw.select("user_id", "event_type", "ts")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = _drain(dedup, "stream_dedup")
    return spark.read.schema(DEDUP_KEYS_SCHEMA).parquet(out).distinct()


UPSERT_STATE_SCHEMA = (
    "user_id long, last_event_id long, last_type string, n_events long"
)


def streamed_upsert_state(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """[EXT] ``foreachBatch`` keyed-upsert sink — the
    merge-into-a-keyed-table pattern Structured Streaming itself has no
    operator for (real deployments MERGE into Delta/Iceberg; here the
    same algebra against parquet): per user keep the LATEST event (max
    (ts, event_id)) and a running event count, merged batch-by-batch.

    The merge is associative and commutative (max over a total order;
    sum for the count), so the final state is independent of how the
    stream is micro-batched — that is the determinism contract, and the
    DuckDB oracle is the closed-form latest-row-per-key query. Each
    foreachBatch call folds the batch into the state dir atomically
    (write new snapshot, then swap) — idempotent against replays of the
    same data because the fold recomputes from the union rather than
    appending blindly."""
    import shutil

    state_dir = tempfile.mkdtemp(prefix="tc_upsert_state_")
    cur = f"{state_dir}/cur"
    state_schema = (
        "user_id long, ts timestamp, event_id long, event_type string, n_events long"
    )

    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        delta = batch.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("m"),
            F.count("*").cast("long").alias("n_events"),
        )
        # the first batch has no state yet; any other read failure raises
        if fsio.exists(s, cur):
            prev = s.read.schema(state_schema).parquet(cur)
        else:
            prev = s.createDataFrame([], state_schema)
        merged = (
            delta.select(
                "user_id",
                F.col("m.ts").alias("ts"),
                F.col("m.event_id").alias("event_id"),
                F.col("m.event_type").alias("event_type"),
                "n_events",
            )
            .unionByName(prev)
            .groupBy("user_id")
            .agg(
                F.max(F.struct("ts", "event_id", "event_type")).alias("m"),
                F.sum("n_events").cast("long").alias("n_events"),
            )
            .select(
                "user_id",
                F.col("m.ts").alias("ts"),
                F.col("m.event_id").alias("event_id"),
                F.col("m.event_type").alias("event_type"),
                "n_events",
            )
        )
        nxt = f"{state_dir}/b{batch_id}"
        merged.write.mode("overwrite").parquet(nxt)
        shutil.rmtree(cur, ignore_errors=True)
        shutil.move(nxt, cur)

    with tempfile.TemporaryDirectory(prefix="tc_upsert_ckpt_") as ckpt:
        (
            raw.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return (
        spark.read.schema(state_schema)
        .parquet(cur)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            "n_events",
        )
    )


def run_available_now(stream_df: DataFrame, out_path: str, checkpoint: str) -> None:
    """Drain everything currently available, then stop — the testable and
    resumable incremental-batch mode."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _drain(stream_df: DataFrame, name: str) -> str:
    """``run_available_now`` into a new ``tc_<name>_out_*`` temp dir,
    which is returned: it backs the caller's lazy read, so it outlives
    this call. The checkpoint is only the query's and is removed when
    the drain returns."""
    out = tempfile.mkdtemp(prefix=f"tc_{name}_out_")
    with tempfile.TemporaryDirectory(prefix=f"tc_{name}_ckpt_") as ckpt:
        run_available_now(stream_df, out, ckpt)
    return out


ATTRIB_PAIRS_SCHEMA = "user_id long, click_id long, purchase_id long"


def stream_attribution_pairs(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
    glob: str = "events.parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """[EXT] Stream-STREAM interval join: each purchase joined to the
    same user's clicks in the preceding ``lookback`` — the real-time
    attribution shape. Two file-source streams over the same events
    table, event-time watermarks on BOTH sides plus the range condition
    — exactly what Spark requires to bound join state; with watermark
    delay ≥ the lookback the inner join is provably COMPLETE (no pair
    missed however micro-batches split), so the drained output equals
    the closed-form batch interval join and is exactly oracle-checkable.
    Emits (user_id, click_id, purchase_id): id-keyed rows, hash-exact.
    """
    def src() -> DataFrame:
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .option("pathGlobFilter", glob)
            .parquet(sf_dir)
        )

    clicks = (
        src()
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", watermark)
    )
    purchases = (
        src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", watermark)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"cu = pu AND cts <= pts AND cts >= pts - INTERVAL {lookback}"
        ),
        "inner",
    ).select(F.col("cu").alias("user_id"), "click_id", "purchase_id")
    out = _drain(joined, "stream_attr")
    return spark.read.schema(ATTRIB_PAIRS_SCHEMA).parquet(out)
