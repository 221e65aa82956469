"""Event-time streaming operators (SURVEY.md §2.9, §2.12).

The reference streams NDJSON with constant memory (T1), chunked triggers
(T3), progress emission (T4), and idempotent incremental loads (T5) — but has
no event-time semantics. These builders define them Spark-first: watermarked
tumbling/session windows and key-dedup over any streaming DataFrame.
Each returns an unstarted streaming DataFrame so callers pick sink + trigger;
the batch shapes of the same aggregations live in ``plans.events`` with
DuckDB oracles, and tests drive these with a memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (parquet dir): the harness analog of a Kafka
    topic. ``maxFilesPerTrigger`` is the T3 chunk-size knob."""
    reader = spark.readStream.schema(EVENTS_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def tumbling_counts(
    events: DataFrame, width: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts+sums per event_type; late data
    beyond the watermark is dropped and state is bounded (T1)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Native session windows (gap-based), the streaming form of the batch
    sessionization plan."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful exactly-once-per-key dedup on event_id within the watermark
    horizon — the streaming form of the reference's at-least-once retry
    tolerance (T6): replays collapse instead of double-counting.

    Caveat (scale): because the event-time column is not part of the dedup
    key, ``dropDuplicates`` never evicts key state — exact forever, but
    state grows with distinct keys. For unbounded runs use
    :func:`dedup_stream_bounded`."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def dedup_stream_bounded(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    evicts a key's state once the watermark passes its event time, so state
    is O(keys-per-watermark-window) instead of O(all keys ever) — the form
    that survives an unbounded 100 TB ingest. Duplicates arriving within
    the watermark horizon of the original collapse; a replay delayed beyond
    it would be treated as new (the documented price of bounded state)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a (bounded) streaming query to completion into a memory sink and
    return the result table — the test/bench harness path. ``output_mode``
    must be "complete" for unwatermarked aggregations."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.table(name)


def stream_stream_interval_join(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: each click joins the views
    by the same user in the preceding ``horizon``.

    Both sides carry a watermark and the join condition bounds event time in
    BOTH directions (view.ts <= click.ts <= view.ts + horizon), so Spark can
    evict join state once the slower watermark passes the interval — state
    stays bounded no matter the stream length (T1), which is what makes the
    operator runnable against an unbounded 100 TB/day event feed. Without
    the time bound the state store would grow forever.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    ).withWatermark("click_ts", watermark)
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"interval {horizon}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        "view_ts",
        "click_ts",
        "click_value",
    )


def live_leaderboard(events: DataFrame, k: int = 5) -> DataFrame:
    """Continuously-maintained top-k (complete-mode leaderboard): global
    per-type totals, sorted. Streaming forbids sorting in append/update
    modes (results would be retracted); in complete mode the full result
    is re-emitted per trigger, so the orderBy is legal and the sink always
    holds the current ranking. State is one row per key — the leaderboard
    shape is only viable when the key domain is dashboard-sized, which is
    exactly when you want it."""
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy(F.col("n_events").desc(), "event_type")
        .limit(k)
    )
