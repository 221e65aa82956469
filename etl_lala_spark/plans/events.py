"""Event-time queries over the `events` table (SURVEY.md §2.9).

The reference's streaming is transport-level NDJSON with a tagged union
(metadata|registro, NDJSON_IMPLEMENTADO.md:140-158) and chunked constant-
memory processing; event-time windows/watermarks are absent and defined here
(SURVEY.md §2.12). These are the *batch* (replayable) forms with DuckDB
oracles — the live Structured Streaming forms of the same plans live in
``etl_lala_spark.streaming`` and are covered by pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_lala_spark.io import load_events
from etl_lala_spark.plans import register


@register(
    "events_tumbling_window",
    oracle="""
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS w_start,
       time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS w_end,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM events
GROUP BY 1, 2, 3
ORDER BY w_start, event_type
""",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute event-time window aggregation (T3 chunk semantics
    generalized to event time)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
        .orderBy("w_start", "event_type")
    )


@register(
    "events_sliding_window",
    oracle="""
SELECT time_bucket(INTERVAL 5 MINUTE, ts) - k * INTERVAL 5 MINUTE AS w_start,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM events CROSS JOIN (VALUES (0), (1)) AS offsets(k)
GROUP BY 1
ORDER BY w_start
""",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 10-minute width, 5-minute slide (each event lands in
    two epoch-aligned windows — the oracle replays that expansion)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(F.col("w.start").alias("w_start"), "n_events", "value_sum")
        .orderBy("w_start")
    )


def _within_gap(w, seconds: int):
    """``ts`` minus the previous ``ts`` in ``w`` is at most ``seconds``.

    Compared in microseconds, as the oracles' ``INTERVAL`` is: whole-second
    casts truncate, so a 1800.5 s gap could read as 1800."""
    us = F.unix_micros("ts")
    return us - F.lag(us).over(w) <= seconds * 1_000_000


@register(
    "events_sessionization",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS value_sum
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) via lag + running
    sum — the batch replay of `F.session_window` (streaming form in
    etl_lala_spark.streaming)."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = _within_gap(w, 1800)
    flagged = ev.withColumn("new_session", F.when(gap_ok, F.lit(0)).otherwise(F.lit(1)))
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "events_json_props",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM events
GROUP BY 1
ORDER BY k_mod
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction over the props column (reference JSON.parse
    per-line handling, NDJSON_IMPLEMENTADO.md:104; §2.8 JSON scalars)."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy((k % 10).alias("k_mod"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .orderBy("k_mod")
    )


@register(
    "events_dedup_exact",
    oracle="""
SELECT event_type, count(*) AS n_events
FROM (
  SELECT DISTINCT event_id, event_type FROM (
    SELECT event_id, event_type FROM events
    UNION ALL
    SELECT event_id, event_type FROM events
  )
)
GROUP BY event_type
ORDER BY event_type
""",
)
def events_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the event key after a simulated at-least-once replay
    (the batch analog of streaming dropDuplicates over event_id; reference
    T6 at-least-once retry semantics)."""
    ev = load_events(spark, sf_dir).select("event_id", "event_type")
    replayed = ev.unionByName(ev)
    return (
        replayed.dropDuplicates(["event_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


@register(
    "events_tagged_union",
    oracle="""
SELECT CASE WHEN event_type IN ('signup', 'login') THEN 'metadados' ELSE 'registro' END AS tipo,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
ORDER BY tipo
""",
)
def events_tagged_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged-union dispatch on a type column (reference P7/T2 NDJSON
    metadata-vs-record routing, NDJSON_IMPLEMENTADO.md:102-118)."""
    ev = load_events(spark, sf_dir)
    tipo = F.when(F.col("event_type").isin("signup", "login"), F.lit("metadados")).otherwise(
        F.lit("registro")
    )
    return (
        ev.groupBy(tipo.alias("tipo"))
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("tipo")
    )


@register(
    "events_user_enrichment",
    oracle="""
SELECT c.c_mktsegment, e.event_type,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       round(sum(e.value), 2) AS value_sum
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def events_user_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment shape: events joined to the customer
    dimension on user_id, aggregated per segment × event type. The dimension
    is broadcast, so the streaming form of this plan joins each micro-batch
    map-side with no state — the standard 100 TB enrichment pattern. Batch
    (replayable) form here; the live form is covered in test_streaming."""
    from etl_lala_spark.io import load_table

    ev = load_events(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


@register(
    "events_gap_detection",
    oracle="""
WITH laggy AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       count(*) AS n_gaps,
       CAST(max(date_diff('second', prev_ts, ts)) AS BIGINT) AS max_gap_s
FROM laggy
WHERE prev_ts IS NOT NULL
  AND date_diff('second', prev_ts, ts) > 300
GROUP BY user_id
ORDER BY user_id
""",
)
def events_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap detection per user: lag over the per-user event-time
    order, gaps > 5 minutes counted and maxed — the session-boundary
    diagnostic behind the sessionization windows."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("gap_s", gap)
        .filter(F.col("gap_s") > 300)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


@register(
    "events_resample_minutes",
    oracle="""
WITH bounds AS (
  SELECT time_bucket(INTERVAL 1 MINUTE, min(ts)) AS t0,
         time_bucket(INTERVAL 1 MINUTE, max(ts)) AS t1 FROM events
),
grid AS (
  SELECT unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS minute FROM bounds
),
agg AS (
  SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS minute,
         count(*) AS n, round(sum(value), 2) AS v
  FROM events GROUP BY 1
)
SELECT g.minute,
       coalesce(a.n, 0) AS n_events,
       coalesce(a.v, 0.0) AS value_sum,
       last_value(a.v IGNORE NULLS) OVER (ORDER BY g.minute) AS value_locf
FROM grid g LEFT JOIN agg a USING (minute)
ORDER BY g.minute
""",
)
def events_resample_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 1-minute resample: a dense time grid (sequence + explode
    from the observed bounds) left-joined to the sparse per-minute
    aggregates, zeros for empty minutes and last-observation-carried-forward
    for the value series — the time-series densification operator.

    The LOCF window here is a global ORDER BY (one partition); at 100 TB the
    same plan partitions the grid by day, computes LOCF within partitions,
    and seeds each day with the previous day's closing value (one extra
    small join) — semantics unchanged.
    """
    ev = load_events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("minute", F.min("ts")).alias("t0"),
        F.date_trunc("minute", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("t0", "t1", F.expr("interval 1 minute"))).alias("minute")
    )
    agg = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    w = W.orderBy("minute").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        grid.join(agg, "minute", "left")
        .select(
            "minute",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0.0)).alias("value_sum"),
            F.last("v", ignorenulls=True).over(w).alias("value_locf"),
        )
        .orderBy("minute")
    )


@register(
    "events_session_ids",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN date_diff('second',
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 600
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
),
sessioned AS (
  SELECT user_id, ts, value,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       round(sum(value), 2) AS value_sum
FROM sessioned
WHERE user_id < 20
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def events_session_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (batch form): a 10-minute inactivity
    gap starts a new session; session ids are the running sum of start flags
    — one window pass, no self-join. The streaming twin is
    `F.session_window` (events_sessionization); this form additionally
    yields stable ordinal session ids for downstream joins."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
    flagged = ev.withColumn(
        "is_start",
        F.when(gap.isNull() | (gap > 600), 1).otherwise(0),
    )
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sessioned = flagged.withColumn("session_id", F.sum("is_start").over(run))
    return (
        sessioned.groupBy("user_id", F.col("session_id").cast("long").alias("session_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .orderBy("user_id", "session_id")
    )


@register(
    "events_funnel_conversion",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         coalesce(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seen_view
  FROM events
),
staged AS (
  SELECT *,
         CASE WHEN event_type = 'click' AND seen_view = 1 THEN 1 ELSE 0 END AS s2,
         coalesce(max(CASE WHEN event_type = 'click' AND seen_view = 1
                           THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seen_click
  FROM ordered
)
SELECT count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n_view,
       count(DISTINCT CASE WHEN s2 = 1 THEN user_id END) AS n_click_after_view,
       count(DISTINCT CASE WHEN event_type = 'purchase' AND seen_click = 1
                           THEN user_id END) AS n_purchase_after_click
FROM staged
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked strictly after
    a view, then purchased strictly after such a click.

    The events fact is shuffled ONCE (both cumulative-flag windows share
    the (user_id; ts, event_id) partitioning → one Exchange, two Window
    nodes); the multi-column distinct count then re-shuffles only tiny
    (user_id, flag) tuples. The strictly-before semantics come from the
    UNBOUNDED PRECEDING .. 1 PRECEDING frame (no self-joins, no per-stage
    re-scan of events — the textbook 3-CTE funnel scans the fact table once
    per stage)."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_view = F.when(F.col("event_type") == "view", 1).otherwise(0)
    ordered = ev.withColumn("seen_view", F.coalesce(F.max(is_view).over(w), F.lit(0)))
    s2_expr = F.when(
        (F.col("event_type") == "click") & (F.col("seen_view") == 1), 1
    ).otherwise(0)
    staged = ordered.withColumn("s2", s2_expr).withColumn(
        "seen_click", F.coalesce(F.max(s2_expr).over(w), F.lit(0))
    )
    return staged.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("n_view"),
        F.countDistinct(F.when(F.col("s2") == 1, F.col("user_id"))).alias(
            "n_click_after_view"
        ),
        F.countDistinct(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("seen_click") == 1),
                F.col("user_id"),
            )
        ).alias("n_purchase_after_click"),
    )


@register(
    "events_variant_props",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS k_bucket,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1
ORDER BY k_bucket
""",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via the Spark 4 VARIANT type: ``parse_json``
    once into a binary variant, then typed ``variant_get`` extraction —
    the engine parses each JSON document a single time however many fields
    later stages pull out, where ``get_json_object`` re-parses per call.
    The DuckDB oracle uses its native JSON path on the same documents."""
    ev = load_events(spark, sf_dir)
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (
        ev.groupBy(F.floor(k / 25).alias("k_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("k_bucket")
    )


@register(
    "events_trending_topk",
    oracle="""
WITH per_window AS (
  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS w_start,
         event_type,
         count(*) AS n
  FROM events
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY w_start ORDER BY n DESC, event_type) AS rnk
  FROM per_window
)
SELECT w_start, event_type, n, rnk
FROM ranked
WHERE rnk <= 3
ORDER BY w_start, rnk
""",
)
def events_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-3 event types per 6-hour window (the classic streaming
    leaderboard, in its replayable batch form): windowed pre-aggregation
    shrinks the fact table to (window × type) BEFORE the rank window, so
    the ranking shuffle moves an aggregate, not events."""
    ev = load_events(spark, sf_dir)
    per_window = ev.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("w_start").orderBy(F.col("n").desc(), "event_type")
    return (
        per_window.select(F.col("w.start").alias("w_start"), "event_type", "n")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("w_start", "rnk")
    )


@register(
    "events_rate_anomaly",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1
),
scored AS (
  SELECT hour, n,
         avg(n) OVER w AS base_mean,
         stddev_samp(n) OVER w AS base_std,
         count(n) OVER w AS n_prev
  FROM hourly
  WINDOW w AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT hour, n,
       round((n - base_mean) / base_std, 4) AS z_score,
       abs(n - base_mean) > 3 * base_std AS is_anomaly
FROM scored
WHERE n_prev = 24 AND base_std > 0
ORDER BY hour
""",
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detection: hourly event counts z-scored against the
    TRAILING 24-hour baseline (rows frame excluding the current hour), the
    standard monitoring shape for ingest pipelines.

    Scale: the fact table collapses to one row per hour BEFORE the ordered
    window, so the single-partition window scan touches #hours rows (8.8 k
    per year) no matter how many events feed it — the same pre-agg-then-rank
    discipline as the trending query."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n")
    )
    w = W.orderBy("hour").rowsBetween(-24, -1)
    scored = hourly.select(
        "hour",
        "n",
        F.avg("n").over(w).alias("base_mean"),
        F.stddev_samp("n").over(w).alias("base_std"),
        F.count("n").over(w).alias("n_prev"),
    )
    return (
        scored.filter((F.col("n_prev") == 24) & (F.col("base_std") > 0))
        .select(
            "hour",
            "n",
            F.round((F.col("n") - F.col("base_mean")) / F.col("base_std"), 4).alias(
                "z_score"
            ),
            (F.abs(F.col("n") - F.col("base_mean")) > 3 * F.col("base_std")).alias(
                "is_anomaly"
            ),
        )
        .orderBy("hour")
    )


@register(
    "events_heavy_hitters",
    oracle="""
SELECT user_id, count(*) AS n_events
FROM events
GROUP BY user_id
HAVING count(*) >= 75
ORDER BY n_events DESC, user_id
""",
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the `approx_top_k` sketch (Spark 4): one
    mergeable-sketch aggregation instead of a full groupBy, then a support
    threshold over the exploded (item, count) pairs.

    Threshold semantics make the sketch oracle-checkable: with
    `maxItemsTracked` ≥ the distinct-key count the sketch never evicts, so
    counts are exact and the ≥75 set is deterministic — unlike raw top-k,
    where boundary ties are arbitrary. At 100 TB the same query runs with
    a small tracked budget (sketches merge across partitions; memory is
    O(tracked), not O(distinct users)) and the result degrades to
    approximate counts with known one-sided error."""
    ev = load_events(spark, sf_dir)
    topk = ev.select(
        F.expr("approx_top_k(user_id, 2000, 10000)").alias("sketch")
    )
    return (
        topk.select(F.explode("sketch").alias("e"))
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").alias("n_events"),
        )
        .where(F.col("n_events") >= 75)
        .orderBy(F.desc("n_events"), "user_id")
    )


@register(
    "events_hourly_active_users",
    oracle="""
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(DISTINCT user_id) AS active_users,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def events_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hourly active users per event type (the DAU/MAU shape at hour
    grain) — the exact twin of the mergeable-HLL rollup
    (`events_distinct_rollup_hll`): one shuffle keyed on (hour, type) with
    Spark's two-phase distinct expansion. At 100 TB grain the HLL form
    re-aggregates without touching raw user ids; this exact form is the
    gate it is tested against."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("hour", "event_type")
    )


@register(
    "events_ewma_smoothing",
    oracle="""
WITH seqs AS (
  SELECT user_id,
         count(*) AS n_events,
         list(value::DOUBLE ORDER BY ts, event_id) AS vals
  FROM events
  GROUP BY user_id
)
SELECT user_id, n_events,
       round(list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3), 6)
         AS ewma_value,
       round(list_aggregate(vals, 'avg'), 6) AS mean_value
FROM seqs
ORDER BY user_id
""",
)
def events_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 0.3) of each user's event
    values in event-time order — the recursive per-key computation SQL
    window frames cannot express (each state depends on the previous
    state, not on a frame of rows).

    Scale-safe batch shape: hash-repartition on the key, sort WITHIN each
    partition by (user_id, ts, event_id) — a spillable sort, never an
    in-memory per-key array — then stream Arrow batches through
    ``mapInPandas`` carrying four scalars (current key, state, count,
    sum) across batch boundaries. Task memory is one Arrow batch
    regardless of how skewed a key's history is (the round-1
    ``collect_list`` form materialized O(per-key history) arrays — a
    power-law key OOMs at 100×; see SCALE.md). The fold computes
    ``acc*0.7 + x*0.3`` seeded s₀ = x₀, exactly DuckDB ``list_reduce``'s
    first-element-init, left-to-right in the same total order, so the
    doubles agree bit-for-bit. Unbounded/continuous histories graduate to
    the streaming twin (streaming/stateful.py) which keeps the same
    scalars per key under a watermark."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    )
    parts = ev.repartition("user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )

    def fold(batches):
        import pandas as pd

        cur = None
        s = 0.0
        cnt = 0
        tot = 0.0
        out_ids: list = []
        out_cnt: list = []
        out_ewma: list = []
        out_mean: list = []

        def close_key() -> None:
            out_ids.append(cur)
            out_cnt.append(cnt)
            out_ewma.append(s)
            out_mean.append(tot / cnt)

        for pdf in batches:
            for uid, x in zip(pdf["user_id"].to_numpy(), pdf["v"].to_numpy()):
                x = float(x)
                if uid != cur:
                    if cur is not None:
                        close_key()
                    cur, s, cnt, tot = uid, x, 1, x
                else:
                    s = s * 0.7 + x * 0.3
                    cnt += 1
                    tot += x
        if cur is not None:
            close_key()
        yield pd.DataFrame(
            {
                "user_id": pd.Series(out_ids, dtype="int64"),
                "n_events": pd.Series(out_cnt, dtype="int64"),
                "ewma_raw": pd.Series(out_ewma, dtype="float64"),
                "mean_raw": pd.Series(out_mean, dtype="float64"),
            }
        )

    folded = parts.mapInPandas(
        fold, "user_id long, n_events long, ewma_raw double, mean_raw double"
    )
    return folded.select(
        "user_id",
        "n_events",
        F.round("ewma_raw", 6).alias("ewma_value"),
        F.round("mean_raw", 6).alias("mean_value"),
    ).orderBy("user_id")


@register(
    "behavior_similarity_topk",
    oracle="""
WITH seqs AS (
  SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
  FROM events GROUP BY user_id
),
prof AS (
  SELECT user_id,
         list_distinct(list_transform(range(1, len(types)),
                                      i -> types[i] || '>' || types[i+1]))
           AS grams
  FROM seqs
),
q AS (SELECT user_id AS query_user, grams AS qg FROM prof WHERE user_id % 97 = 0),
scored AS (
  SELECT q.query_user, p.user_id AS other_user,
         round(CASE WHEN len(list_distinct(list_concat(qg, grams))) = 0 THEN 0.0
               ELSE CAST(len(list_intersect(qg, grams)) AS DOUBLE)
                    / len(list_distinct(list_concat(qg, grams))) END, 6) AS jac
  FROM prof p CROSS JOIN q
  WHERE p.user_id <> q.query_user
)
SELECT query_user, other_user, jac,
       CAST(row_number() OVER (PARTITION BY query_user
                               ORDER BY jac DESC, other_user) AS INT) AS rank
FROM scored
QUALIFY rank <= 3
ORDER BY query_user, rank
""",
)
def behavior_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral trajectory similarity search (the REPOSE top-k
    trajectory-similarity shape, PAPERS.md): each user's event-time-ordered
    event-type sequence is reduced to its distinct transition-bigram set,
    and a small query cohort is matched against all users by Jaccard
    similarity, top-3 each.

    Spark-first, skew-proof: each event's transition bigram comes from a
    ``lag`` window (spillable sort within the user_id shuffle — never an
    in-memory per-key history array), and the profile is a ``collect_set``
    of bigrams whose size is bounded by |event-type alphabet|², not by the
    user's history length — a power-law user costs sort time, not memory.
    The query cohort is broadcast against the profile table exactly like
    the ANN brute-force path, so the profile corpus never shuffles and the
    ranking window sees only #queries × #users candidate rows. The same
    blocked/LSH graduation as text dedup applies when the cohort grows."""
    ev = load_events(spark, sf_dir)
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    bigram = F.concat(
        F.lag("event_type").over(wseq), F.lit(">"), F.col("event_type")
    )
    # collect_set drops the first event's NULL lag; a 1-event user yields an
    # empty gram set, matching the oracle's size<2 branch.
    prof = (
        ev.withColumn("bg", bigram)
        .groupBy("user_id")
        .agg(F.collect_set("bg").alias("grams"))
    )
    q = prof.filter(F.col("user_id") % 97 == 0).select(
        F.col("user_id").alias("query_user"), F.col("grams").alias("qg")
    )
    union_n = F.size(F.array_union(F.col("qg"), F.col("grams")))
    jac = F.round(
        F.when(union_n == 0, F.lit(0.0)).otherwise(
            F.size(F.array_intersect(F.col("qg"), F.col("grams"))).cast("double")
            / union_n
        ),
        6,
    )
    scored = (
        prof.crossJoin(F.broadcast(q))
        .filter(F.col("user_id") != F.col("query_user"))
        .select(
            "query_user", F.col("user_id").alias("other_user"), jac.alias("jac")
        )
    )
    w = W.partitionBy("query_user").orderBy(F.col("jac").desc(), "other_user")
    # row_number is already int on the Spark side (the oracle casts DuckDB's
    # bigint); a cast wrapper would defeat the WindowGroupLimit rewrite.
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("query_user", "rank")
    )


@register(
    "events_seasonal_baseline",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(extract(hour FROM ts) AS INT) AS hod,
         count(*) AS n
  FROM events
  GROUP BY 1, 2
),
base AS (
  SELECT hod,
         avg(n) AS base_mean,
         stddev_samp(n) AS base_sd
  FROM hourly GROUP BY hod
)
SELECT h.h AS hour_ts, h.hod, h.n AS n_events,
       round(b.base_mean, 4) AS base_mean,
       round((h.n - b.base_mean) / nullif(b.base_sd, 0), 4) AS seasonal_z
FROM hourly h JOIN base b ON h.hod = b.hod
ORDER BY hour_ts
""",
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: each hour's event count is
    z-scored against the historical baseline FOR THAT HOUR-OF-DAY (so a
    quiet 3am hour isn't flagged just for being quieter than noon) — the
    complement of the trailing-window z-score in events_rate_anomaly.

    Shape: ONE event scan (plan-asserted) → hourly pre-agg; the hour-of-day
    baseline is an unbounded window over the #hours-row aggregate
    (`avg/stddev over (partition by hod)`), so nothing re-derives from
    events — a groupBy-then-join-back would execute the hourly agg twice
    and scan events twice (r2's shape). Everything after the first agg
    operates on #hours rows, never events."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count("*").alias("n"))
    wb = W.partitionBy("hod")
    base_mean = F.avg("n").over(wb)
    base_sd = F.stddev_samp("n").over(wb)
    return (
        hourly.select(
            F.col("h").alias("hour_ts"),
            "hod",
            F.col("n").alias("n_events"),
            F.round(base_mean, 4).alias("base_mean"),
            F.round(
                (F.col("n") - base_mean) / F.nullif(base_sd, F.lit(0)), 4
            ).alias("seasonal_z"),
        )
        .orderBy("hour_ts")
    )


@register(
    "events_peak_concurrency",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END
           AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
  FROM numbered GROUP BY user_id, session_id
),
points AS (
  SELECT s AS pt, 1 AS delta, user_id, session_id FROM sessions
  UNION ALL
  SELECT e AS pt, -1 AS delta, user_id, session_id FROM sessions
),
swept AS (
  SELECT pt, delta,
         sum(delta) OVER (ORDER BY pt, delta DESC, user_id, session_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS live
  FROM points
)
SELECT CAST(max(live) AS INT) AS peak_concurrency,
       min(pt) FILTER (WHERE live = (SELECT max(live) FROM swept)) AS peak_ts
FROM swept
""",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line over session intervals: the classic interval-analytics
    question "how many sessions were ever active at once, and when did the
    peak first happen". Sessions come from the 30-minute-gap rule
    (events_sessionization's intervals); each interval contributes a +1 at
    its start and a −1 at its end. Intervals are CLOSED: at equal
    timestamps the +1 is processed before the −1 (deltas order
    descending), so a zero-duration single-event session still counts as
    live at its instant and touching sessions overlap at the boundary
    point. A running sum over the fully-tiebroken point order is the
    live-session count.

    Scale: the sweep's global window runs over 2×#sessions points (never
    events) — and events itself is scanned exactly ONCE (plan-asserted):
    the ±1 boundary points come from ONE `explode` over the session rows
    (a union of two selects would duplicate the whole sessionization
    subtree → two scans), and the argmin-timestamp-at-max-live is a
    lexicographic `max(struct(live, -µs))` in the SAME aggregate (a
    broadcast self-join on max(live) would re-execute the sweep → two
    more scans; r2's shape cost 4 full scans this way). At 100 TB
    concurrency is computed per shard/day first and the final sweep
    merges per-shard boundary points — same plan shape one level up."""
    ev = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = _within_gap(w, 1800)
    numbered = ev.withColumn(
        "new_session", F.when(gap_ok, F.lit(0)).otherwise(F.lit(1))
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    points = sessions.select(
        "user_id",
        "session_id",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("pt"), F.lit(1).alias("delta")),
                F.struct(F.col("e").alias("pt"), F.lit(-1).alias("delta")),
            )
        ).alias("p"),
    ).select("user_id", "session_id", "p.pt", "p.delta")
    sweep = W.orderBy(
        F.col("pt"), F.col("delta").desc(), F.col("user_id"), F.col("session_id")
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    swept = points.withColumn("live", F.sum("delta").over(sweep))
    # peak_ts = min(pt) among rows with live = max(live): lexicographic max of
    # (live, -unix_micros(pt)) — integer µs negation is exact, so no precision
    # loss — folded into the single final aggregate.
    peak_struct = F.max(
        F.struct(F.col("live").alias("l"), (-F.unix_micros("pt")).alias("n"))
    )
    return swept.agg(
        F.max("live").cast("int").alias("peak_concurrency"),
        F.timestamp_micros(-peak_struct["n"]).alias("peak_ts"),
    )


@register(
    "events_attribution_last_touch",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
  FROM events WHERE event_type IN ('purchase', 'view', 'click')
),
attr AS (
  SELECT event_type, value,
         last_value(touch IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type
  FROM tagged
)
SELECT coalesce(touch_type, 'none') AS touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
FROM attr
WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (the marketing-analytics staple):
    each purchase is credited to the user's most recent preceding touch
    event (view or click; purchases never self-attribute), then revenue
    rolls up per touch type. One shuffle on user_id, one window pass with
    last(ignorenulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING — the
    same LOCF idiom as the as-of join (`operators/relational.py:7`), so no
    self-join and no per-purchase subquery. Deterministic: (ts, event_id)
    is a total order per user; decimal revenue sums.

    Scale: per-user partitions only (user grain, AQE skew handling
    applies); the aggregate is 3 groups."""
    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "view", "click")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    attributed = ev.withColumn(
        "touch_type", F.last(touch, ignorenulls=True).over(w)
    ).filter(F.col("event_type") == "purchase")
    return (
        attributed.groupBy(
            F.coalesce("touch_type", F.lit("none")).alias("touch_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("revenue"),
        )
        .orderBy("touch_type")
    )
