"""Streaming operators driven through the driver's batch-oracle gate.

The stateful streaming surface (reference T1-T4/T6; SURVEY §2.9) is
pytest-only by nature — a running stream has no DuckDB oracle. These twins
close that gap the way the r3 verdict prescribed: each registered query RUNS
the real Structured Streaming operator (``sinks.writer.stream_scd2`` /
``maintain_summary`` — foreachBatch merges, availableNow triggers, atomic
table swaps, replay guards) over a deterministic file-source stream derived
from the driver's own parquet tables, then returns the FINAL on-disk state,
which ANSI SQL over the same inputs can predict exactly. A green driver row
here certifies the streaming merge semantics end-to-end, not a batch
re-implementation.

Reference behavior twinned: the competência reprocessing loop's
delete-then-reinsert (src/datasus/datasus.service.ts:15-39) is the
whole-partition form of the per-key versioned merge; the run summary
(src/scripts/run-etl.ts:26-54) is the incremental aggregate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.io import load_events, load_table
from etl_lala_spark.plans import register
from etl_lala_spark.plans._gates import (
    fixture_region,
    gate_workdir,
    shuffle_width,
)

_SCD2_ORACLE = """
WITH c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved
  FROM customer
)
SELECT CAST(valid_from AS BIGINT) AS valid_from,
       CAST(valid_to_filled AS BIGINT) AS valid_to_filled,
       is_current,
       n_rows
FROM (
  SELECT 1 AS valid_from, -1 AS valid_to_filled, TRUE AS is_current,
         n_total - n_moved AS n_rows FROM c
  UNION ALL
  SELECT 1, 2, FALSE, n_moved FROM c
  UNION ALL
  SELECT 2, -1, TRUE, n_moved FROM c
)
WHERE n_rows > 0
ORDER BY valid_from, valid_to_filled
"""


@register("stream_twin_scd2_final", oracle=_SCD2_ORACLE)
def stream_twin_scd2_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 final-state twin: run ``stream_scd2`` (the real
    foreachBatch merge-and-swap sink) over two sequential availableNow
    update streams built from the customer table — batch 1 loads every
    customer's market segment, batch 2 re-delivers every 5th customer with
    every 10th customer's segment changed (so half of batch 2 is a
    pass-through no-op, exercising the unchanged-row path). The final
    history must hold exactly: one open v1 row per never-changed key, and a
    closed v1 + open v2 pair per changed key — which the oracle derives in
    closed form from customer. Version counts are summarized by
    (valid_from, valid_to, is_current); -1 encodes the open (NULL) end."""
    from etl_lala_spark.sinks import writer as w

    work = gate_workdir(spark, "stream_twin_scd2_final")
    cust = load_table(spark, sf_dir, "customer")
    b1 = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(1).cast("long").alias("effective_batch"),
    )
    b2 = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when(F.col("c_custkey") % 10 == 0, F.lit("MOVED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
            F.lit(2).cast("long").alias("effective_batch"),
        )
    )
    table = os.path.join(work, "dim")

    def run(df: DataFrame, src: str) -> None:
        with fixture_region("stream_twin_scd2_final"):
            df.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = w.stream_scd2(stream, table, key="k", tracked=["seg"])
        q.awaitTermination(300)
        q.stop()

    run(b1, os.path.join(work, "src1"))
    run(b2, os.path.join(work, "src2"))

    # The dimension table lives in the session-scoped workdir, so this
    # summary stays a LAZY plan over the streamed result.
    final = spark.read.parquet(table)
    return (
        final.groupBy(
            F.col("valid_from"),
            F.coalesce(F.col("valid_to"), F.lit(-1).cast("long")).alias(
                "valid_to_filled"
            ),
            F.col("is_current"),
        )
        .agg(F.count("*").alias("n_rows"))
        .orderBy("valid_from", "valid_to_filled")
    )


_MV_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(value), 2) AS value_sum
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("stream_twin_running_summary", oracle=_MV_ORACLE)
def stream_twin_running_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view twin: stream the events table file by
    file (``maxFilesPerTrigger=1`` — four micro-batches) through
    ``maintain_summary``'s delta-merge sink, then read the final summary
    table. The invariant a green row certifies: incrementally folded
    (count, sum) deltas equal the one-shot batch aggregate the oracle
    computes — i.e. the MV maintenance is exactly-once under the replay
    guard. Sums are rounded to 2 decimals on both sides (the established
    float discipline; merge order differs between engines)."""
    from etl_lala_spark.sinks import writer as w

    work = gate_workdir(spark, "stream_twin_running_summary")
    src = os.path.join(work, "src")
    summary = os.path.join(work, "summary")
    ev = load_events(spark, sf_dir).select("event_type", "value")
    with fixture_region("stream_twin_running_summary"):
        ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = w.maintain_summary(
        stream, summary, keys=["event_type"], value_col="value"
    )
    q.awaitTermination(300)
    q.stop()
    # Lazy read of the maintained summary table in the session-scoped dir.
    return (
        spark.read.parquet(summary)
        .select(
            "event_type",
            "n_rows",
            F.round(F.col("value_sum"), 2).alias("value_sum"),
        )
        .orderBy("event_type")
    )


_VING_ORACLE = """
SELECT c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(c_acctbal), 2) AS bal_sum,
       4 AS n_versions,
       CAST(3 AS BIGINT) AS last_batch_id
FROM customer
GROUP BY c_mktsegment
ORDER BY seg
"""


@register("stream_twin_versioned_ingest", oracle=_VING_ORACLE)
def stream_twin_versioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest twin: stream the customer table in
    four micro-batches (``maxFilesPerTrigger=1``) through
    ``sinks.versioned.stream_versioned_append`` — each batch lands as one
    atomic append commit whose manifest carries the batch id — then replay
    the ENTIRE stream with a fresh (checkpoint-free) run, which re-delivers
    every batch under recycled ids. A green row certifies: the replay
    committed nothing (manifest-transactional guard), the log holds exactly
    4 versions with last applied batch id 3, and the final snapshot equals
    the one-shot batch aggregate the oracle computes from customer."""
    from etl_lala_spark.sinks import versioned as vt

    work = gate_workdir(spark, "stream_twin_versioned_ingest")
    src = os.path.join(work, "src")
    table = os.path.join(work, "vt")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal"
    )
    cust.repartition(4).write.mode("overwrite").parquet(src)

    def run(checkpoint: str | None) -> None:
        stream = (
            spark.readStream.schema(cust.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = vt.stream_versioned_append(stream, table, checkpoint=checkpoint)
        q.awaitTermination(300)
        q.stop()

    run(os.path.join(work, "ckpt"))
    run(None)  # at-least-once replay: all batches re-delivered, ids 0..3
    vs = vt.table_versions(table)
    n_versions = len(vs)
    last_bid = max(m.get("stream_batch_id", -1) for m in vs)
    # Lazy plan over the session-scoped transaction log: the manifests the
    # plan references outlive this function.
    return (
        vt.read_version(spark, table)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("bal_sum"),
        )
        .select(
            "seg",
            "n_rows",
            "bal_sum",
            F.lit(n_versions).alias("n_versions"),
            F.lit(last_bid).cast("long").alias("last_batch_id"),
        )
        .orderBy("seg")
    )


_PROGRESS_ORACLE = """
WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
SELECT user_id,
       CAST(n AS BIGINT) AS total_events,
       CAST(unnest(generate_series(1, n // 50)) AS BIGINT) AS emitted
FROM u
ORDER BY user_id, emitted
"""

_PROGRESS_RUNS = [0]  # memory-sink names must be fresh per invocation


@register("stream_twin_progress", oracle=_PROGRESS_ORACLE)
def stream_twin_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-progress emission twin (reference A6/T4: the converter logs
    progress every 50k records, NDJSON_IMPLEMENTADO.md:113-117): run the
    REAL ``applyInPandasWithState`` operator (`stateful.attach_progress`,
    stride 50) over a one-batch availableNow stream of the events table and
    return every emitted progress row. With the whole input in one
    micro-batch, the operator must emit exactly floor(n/50) rows per user,
    numbered 1..floor(n/50), each carrying the final per-user count — which
    the oracle derives in closed form. A green row certifies the stateful
    stride arithmetic (state fold, boundary crossing, emission count)
    end-to-end through the streaming engine, not a batch re-implementation.
    The float-valued running sum is deliberately NOT compared here (Python
    vs SQL summation order)."""
    from etl_lala_spark.streaming import stateful

    work = gate_workdir(spark, "stream_twin_progress")
    src = os.path.join(work, "src")
    ev = load_events(spark, sf_dir).select("user_id", "value")
    with fixture_region("stream_twin_progress"):
        ev.coalesce(1).write.mode("overwrite").parquet(src)  # one file -> one batch
    stream = spark.readStream.schema(ev.schema).parquet(src)
    _PROGRESS_RUNS[0] += 1
    got = stateful.run_to_memory(
        stateful.attach_progress(stream), f"t_gate_progress_{_PROGRESS_RUNS[0]}"
    )
    return got.select("user_id", "total_events", "emitted").orderBy(
        "user_id", "emitted"
    )


_CKPT_RESTART_ORACLE = """
SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS price_sum,
       CAST(CASE WHEN o_orderkey % 4 >= 2 THEN count(*) ELSE 0 END AS BIGINT)
         AS n_rows_run2
FROM orders
GROUP BY o_orderkey % 4
ORDER BY 1
"""


@register("stream_twin_checkpoint_restart", oracle=_CKPT_RESTART_ORACLE)
def stream_twin_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed-restart twin (reference T6: the ETL resumes a crashed
    run from its progress log and must not re-load months it already
    committed, src/datasus/datasus.service.ts:222-237): land buckets 0-1 of
    the orders table as source files, drain them with a checkpointed
    availableNow file-source stream into a parquet sink, then land buckets
    2-3 and RESTART the stream from the SAME checkpoint. The restarted run
    must pick up exactly the new files — every sink row carries the run
    number that wrote it, so a restart that re-reads committed files
    doubles bucket-0/1 counts AND leaks run-2 rows into those buckets,
    while a checkpoint that under-resumes leaves buckets 2-3 empty. The
    oracle predicts the whole sink in closed form from orders. Certifies
    T6 recovery end-to-end through the engine's file-source offset log and
    the parquet sink's exactly-once _spark_metadata commit protocol —
    pytest twin: tests/test_streaming.py::test_checkpoint_recovery_no_double_count."""
    work = gate_workdir(spark, "stream_twin_checkpoint_restart")
    src = os.path.join(work, "src")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % 4).cast("long").alias("bucket"),
            "o_totalprice",
        )
    )

    def land(lo: int, hi: int) -> None:
        with fixture_region("stream_twin_checkpoint_restart"):
            orders.filter(
                (F.col("bucket") >= lo) & (F.col("bucket") <= hi)
            ).write.mode("append").parquet(src)

    def drain(run: int) -> None:
        stream = (
            spark.readStream.schema(
                "bucket long, o_totalprice double"
            )
            .option("maxFilesPerTrigger", 8)
            .parquet(src)
        )
        q = (
            stream.withColumn("run", F.lit(run).cast("long"))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    land(0, 1)
    drain(1)
    land(2, 3)
    drain(2)  # restart from the same checkpoint: only the new files
    return (
        spark.read.parquet(sink)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            # Sum on decimal(18,2): the per-row double->decimal cast is
            # deterministic and the integer-scaled sum is order-independent,
            # so the hash cannot flip on a partial-sum landing near a .005
            # rounding boundary (summation order differs between the DuckDB
            # oracle and the two-run parquet sink aggregation).
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("price_sum"),
            F.sum(F.when(F.col("run") == 2, 1).otherwise(0))
            .cast("long")
            .alias("n_rows_run2"),
        )
        .orderBy("bucket")
    )


_TAGGED_NDJSON_ORACLE = """
WITH k AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 800)
SELECT 'metadados' AS category,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k % 7 + 1) AS BIGINT) AS sum_val
FROM k WHERE k % 5 = 0
UNION ALL
SELECT 'registro', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT)
FROM k WHERE k % 5 <> 0
ORDER BY category
"""

_TAGGED_RUNS = [0]  # memory-sink names must be fresh per invocation


@register("stream_twin_tagged_ndjson", oracle=_TAGGED_NDJSON_ORACLE)
def stream_twin_tagged_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 tagged stream framing under the correctness gate: a tagged NDJSON
    fixture (metadata envelopes on every fifth key, records otherwise —
    rendered in-cluster from orders with pure codegen string build) is
    consumed through the REAL ``read_tagged_ndjson(streaming=True)`` path —
    a ``readStream.text`` source, ``from_json`` union parse, tag routing
    (reference NDJSON_IMPLEMENTADO.md:140-158: first-line metadata object,
    record lines routed on ``tipo``) — with BOTH legs drained by
    availableNow streaming queries into memory sinks. The final per-type
    counts and value sums must match the oracle's closed-form replay from
    orders: a tag-routing, union-parse, or record-projection bug in the
    STREAMING form (not just the batch twin certified in r3) lands on a
    different hash.

    Scale: the source is line-split text — constant memory per micro-batch
    (T1); the parse is one codegen from_json, no Python."""
    work = gate_workdir(spark, "stream_twin_tagged_ndjson")
    src = os.path.join(work, "src")
    from etl_lala_spark.sources.ndjson import read_tagged_ndjson
    from etl_lala_spark.streaming.stateful import run_to_memory

    k = F.col("o_orderkey")
    line = F.when(
        k % 5 == 0,
        F.concat(
            F.lit('{"tipo":"metadados","arquivo":"f'), k,
            F.lit('","total_colunas":'), (k % 7 + 1).cast("int"),
            F.lit(',"colunas":["a"]}'),
        ),
    ).otherwise(
        F.concat(F.lit('{"tipo":"registro","dados":{"val":"'), k, F.lit('"}}'))
    )
    with fixture_region("stream_twin_tagged_ndjson"):
        (
            load_table(spark, sf_dir, "orders")
            .filter(k < 800)
            .select(line.alias("value"))
            .write.mode("overwrite")
            .text(src)
        )

    meta, recs = read_tagged_ndjson(spark, src, ["val"], streaming=True)
    _TAGGED_RUNS[0] += 1
    run = _TAGGED_RUNS[0]
    got_meta = run_to_memory(meta, f"t_gate_tagged_meta_{run}")
    got_recs = run_to_memory(recs, f"t_gate_tagged_recs_{run}")
    return (
        got_meta.groupBy(F.lit("metadados").alias("category")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("total_colunas").cast("long").alias("sum_val"),
        )
        .unionByName(
            got_recs.groupBy(F.lit("registro").alias("category")).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("val").cast("long")).alias("sum_val"),
            )
        )
        .orderBy("category")
    )


_BOUNDED_STATE_ORACLE = """
WITH ev AS (
  SELECT o_orderkey % 16 AS h, o_orderkey % 3 AS g FROM orders
),
b AS (SELECT unnest(generate_series(0, 4)) AS batch_seq)
SELECT CAST(batch_seq AS BIGINT) AS batch_seq,
       CAST((SELECT count(*) FROM ev
             WHERE batch_seq < 4 AND h >= batch_seq * 4
               AND h < batch_seq * 4 + 4) AS BIGINT) AS input_rows,
       CAST((SELECT count(*) FROM ev
             WHERE h < LEAST(batch_seq, 3) * 4 + 4) AS BIGINT)
         AS input_rows_cum,
       CAST((SELECT count(DISTINCT h * 4 + g) FROM ev
             WHERE h >= CASE WHEN batch_seq = 0 THEN 0
                             ELSE batch_seq * 4 - 1 END
               AND h < LEAST(batch_seq, 3) * 4 + 4) AS BIGINT) AS state_rows
FROM b
ORDER BY batch_seq
"""


@register("stream_twin_bounded_state", oracle=_BOUNDED_STATE_ORACLE)
def stream_twin_bounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 constant-memory streaming under the correctness gate (reference
    NDJSON_IMPLEMENTADO.md:188-196: the converter holds ~10 MB while
    streaming 1.6 M records — memory must not grow with input): a
    monotone-event-time stream (orders mapped onto 16 hours, 4 mtime-
    laddered files of 4 hours each, ``maxFilesPerTrigger=1``) drives a
    watermarked 1-hour tumbling aggregation in append mode, and the gate
    emits one row PER MICRO-BATCH from the engine's own
    ``StreamingQueryProgress.stateOperators`` metrics:
    (batch_seq, input_rows, input_rows_cum, state_rows).

    The oracle predicts every cell in closed form from orders: cumulative
    input grows 4-fold across the run while state_rows stays pinned at the
    watermark horizon — G keys x K hours after batch 0, G x (K+1) hours for
    every later data batch (the engine evicts a finalized hour exactly when
    the watermark passes its window end: wm at batch b is the max event
    time through batch b-1), and the final no-data commit batch (Spark's
    availableNow flush) evicts down to the G groups of the single
    not-yet-closed hour. A query whose state grew with input — missing
    watermark, wrong eviction boundary, state leak — lands on different
    state_rows in every row. This is the gateable form of the T1 bound: the
    engine's state-row metric IS the memory claim, reduced to closed-form
    arithmetic; the replay-collapse test at tests/test_streaming.py::
    test_streaming_dedup_bounded_state_collapses_replay remains the pytest
    certificate for the dedup form."""
    import glob as globmod
    import json

    work = gate_workdir(spark, "stream_twin_bounded_state")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)
    nb, k, base = 4, 4, 1_704_067_200  # 4 files x 4 hours from 2024-01-01
    ev = load_table(spark, sf_dir, "orders").select(
        F.timestamp_seconds(
            F.lit(base) + (F.col("o_orderkey") % (nb * k)) * 3600
        ).alias("ts"),
        (F.col("o_orderkey") % 3).alias("g"),
        (F.col("o_orderkey") % (nb * k)).alias("h"),
    )
    t0 = 1_700_000_000  # deterministic mtime ladder: file b is b s newer
    with fixture_region("stream_twin_bounded_state"):
        for b in range(nb):
            tmp = os.path.join(work, f"tmp{b}")
            ev.filter(
                (F.col("h") >= b * k) & (F.col("h") < (b + 1) * k)
            ).drop("h").coalesce(1).write.mode("overwrite").parquet(tmp)
            (part,) = globmod.glob(os.path.join(tmp, "part-*.parquet"))
            dest = os.path.join(src, f"f{b}.parquet")
            os.rename(part, dest)
            os.utime(dest, (t0 + b, t0 + b))

    stream = (
        spark.readStream.schema("ts timestamp, g long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour"), "g")
        .count()
    )
    # The state store shards on spark.sql.shuffle.partitions AT FIRST
    # BATCH and keeps that count for the query's life; this query holds
    # <= 15 state rows, so a session-wide 32/200 would spend 5x(32..200)
    # state-store task lifecycles on a 15-row store. Pin a small count
    # for THIS stream only (state sizing follows key cardinality, not
    # session width — the same decision a production job makes per
    # stateful stream) and restore the session conf either way.
    with shuffle_width(spark, 4):
        q = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    progress = []
    for p in q.recentProgress:
        if not isinstance(p, dict):
            raw = p.json
            p = json.loads(raw if isinstance(raw, str) else raw())
        progress.append(p)
    q.stop()
    rows, cum = [], 0
    for seq, p in enumerate(sorted(progress, key=lambda p: p["batchId"])):
        cum += p["numInputRows"]
        state = p["stateOperators"][0]["numRowsTotal"]
        rows.append((seq, p["numInputRows"], cum, state))
    return spark.createDataFrame(
        rows, "batch_seq bigint, input_rows bigint, input_rows_cum bigint, "
        "state_rows bigint"
    ).orderBy("batch_seq")


_TRIGGER_CHUNKS_ORACLE = """
SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(o_orderkey % 4 AS BIGINT) AS batch_id,
       CAST(1 AS BIGINT) AS n_batches
FROM orders
GROUP BY o_orderkey % 4
ORDER BY bucket
"""


@register("stream_twin_trigger_chunks", oracle=_TRIGGER_CHUNKS_ORACLE)
def stream_twin_trigger_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 chunked-trigger accounting under the correctness gate: the four
    ``o_orderkey % 4`` buckets of orders are landed as four single-file
    parquet sources with an mtime ladder (bucket b is b seconds newer), a
    checkpointed availableNow file-source stream drains them under
    ``maxFilesPerTrigger=1``, and the foreachBatch sink stamps every row
    with its micro-batch id (reference T3: the converter processes the
    input in bounded chunks and accounts per-chunk progress,
    STREAMING_JSON_IMPLEMENTADO.md:164-181). The engine must assign batch
    b exactly the b-th oldest file, so per bucket the sink holds count(*)
    rows all carrying batch_id = bucket in exactly one distinct batch —
    the oracle predicts the whole batch partition in closed form. A
    trigger that coalesces files, re-orders them, or re-delivers a chunk
    lands on a different hash.

    Scale: maxFilesPerTrigger is the knob that bounds per-micro-batch
    state at 100 TB backfills; this certifies its unit (one file = one
    chunk) end-to-end through the offset log."""
    import glob as globmod

    work = gate_workdir(spark, "stream_twin_trigger_chunks")
    src = os.path.join(work, "src")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).cast("long").alias("bucket")
    )
    t0 = 1_700_000_000  # deterministic mtime ladder: bucket b is b s newer
    with fixture_region("stream_twin_trigger_chunks"):
        for b in range(4):
            tmp = os.path.join(work, f"tmp{b}")
            orders.filter(F.col("bucket") == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            (part,) = globmod.glob(os.path.join(tmp, "part-*.parquet"))
            dest = os.path.join(src, f"f{b}.parquet")
            os.rename(part, dest)
            os.utime(dest, (t0 + b, t0 + b))

    stream = (
        spark.readStream.schema("bucket long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def stamp(df: DataFrame, epoch_id: int) -> None:
        df.withColumn("batch_id", F.lit(epoch_id).cast("long")).write.mode(
            "append"
        ).parquet(sink)

    q = (
        stream.writeStream.foreachBatch(stamp)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    return (
        spark.read.parquet(sink)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("batch_id").alias("batch_id"),
            F.countDistinct("batch_id").alias("n_batches"),
        )
        .orderBy("bucket")
    )


_URL_FRONTIER_ORACLE = """
WITH b(batch_id, lo, hi) AS (
  VALUES (0, 0, 100), (1, 100, 200), (2, 200, 250)
),
novel AS (
  SELECT batch_id, 'http://example.com/page' || p.p AS url
  FROM b, LATERAL (SELECT unnest(generate_series(lo, hi - 1)) AS p) p
)
SELECT batch_id,
       CAST(count(*) AS BIGINT) AS n_novel,
       md5(string_agg(url, ',' ORDER BY url)) AS urls_md5
FROM novel GROUP BY batch_id ORDER BY batch_id
"""


def _url_frontier_twin(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n_bits: int,
    use_sketch: bool,
) -> DataFrame:
    """The ONE frontier-twin body both gates run (same sharing contract
    as the corpus-build survivor CTE): identical batches and URL-variant
    expression feed identical plumbing, so the two gates sharing ONE
    oracle is structural, not copy-paste — the cache transport must be
    invisible in the store's content, and an edit here changes both
    twins or neither."""
    import glob as globmod

    work = gate_workdir(spark, name)
    src = os.path.join(work, "src")
    store = os.path.join(work, "store")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    p = (F.col("doc_id") % 250).cast("string")
    v = (F.col("doc_id") % 4).cast("int")
    url = (
        F.when(v == 0, F.concat(F.lit("http://example.com/page"), p))
        .when(v == 1, F.concat(F.lit("HTTP://WWW.EXAMPLE.COM:80/page"), p))
        .when(
            v == 2,
            F.concat(
                F.lit("http://example.com/page"), p, F.lit("/?utm_source=x")
            ),
        )
        .otherwise(
            F.concat(F.lit("http://example.com/page"), p, F.lit("#frag"))
        )
    )
    t0 = 1_700_000_000
    with fixture_region(name):
        for b in range(4):
            tmp = os.path.join(work, f"tmp{b}")
            (
                d.filter(
                    (F.col("doc_id") >= b * 100)
                    & (F.col("doc_id") < (b + 1) * 100)
                )
                .select(url.alias("url"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            (part,) = globmod.glob(os.path.join(tmp, "part-*.parquet"))
            dest = os.path.join(src, f"f{b}.parquet")
            os.rename(part, dest)
            os.utime(dest, (t0 + b, t0 + b))

    from etl_lala_spark.operators.web import stream_url_frontier

    stream = (
        spark.readStream.schema("url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sketch = None
    if use_sketch:
        sketch = os.path.join(work, "sketch")
        os.makedirs(sketch)
    q = stream_url_frontier(
        stream, store, n_bits=n_bits, checkpoint=ckpt, sketch_store=sketch
    )
    q.awaitTermination(300)
    q.stop()
    return (
        spark.read.parquet(store)
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_novel"),
            F.md5(
                F.concat_ws(",", F.array_sort(F.collect_list("url")))
            ).alias("urls_md5"),
        )
        .orderBy("batch_id")
    )


@register("stream_twin_url_frontier", oracle=_URL_FRONTIER_ORACLE)
def stream_twin_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming URL-frontier twin — the round-9 crawl composition end to
    end: four mtime-laddered micro-batches of 100 discovered URLs each
    (docs 100b..100b+99; canonical page = doc % 250, so batch 2 is half
    replay and batch 3 entirely replay) flow through
    ``operators/web.py:stream_url_frontier`` — per batch: canonicalization
    (four URL VARIANTS per page exercise case/www/port, trailing-slash +
    utm, and fragment normalization), Bloom-cache probe, exact anti-join
    on the maybe-seen slice, novel-only append, store-count-validated
    bitmap refresh. The oracle predicts the final store exactly: which
    batch first saw every canonical page (100/100/50 novel; batch 3
    appends nothing and so has no row) and the md5 of each batch's sorted
    URL list — a canonicalization miss, a Bloom false NEGATIVE, a replay
    leak, or a stale-bitmap drop all land on different rows."""
    return _url_frontier_twin(
        spark, sf_dir, "stream_twin_url_frontier", 4096, use_sketch=False
    )


@register("stream_twin_url_frontier_sketch", oracle=_URL_FRONTIER_ORACLE)
def stream_twin_url_frontier_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The frontier streaming twin at its SCALE configuration: identical
    batches, canonicalization variants, and oracle as
    ``stream_twin_url_frontier`` (enforced structurally — both gates run
    ``_url_frontier_twin``), but the seen-set cache is the DURABLE words
    sketch (``sketch_store=``, 2^20 bits → the join transport) — the
    10^9–10^10-bit frontier shape where the sketch never exists as one
    dense object: probe is k word-index joins against the persisted
    store, refresh is a no-stats append-only O(novel) merge, and the
    same store-count validity stamp self-heals a crash between store
    append and sketch merge. The two twins sharing ONE oracle is the
    point: the cache transport must be invisible in the store's
    content."""
    return _url_frontier_twin(
        spark,
        sf_dir,
        "stream_twin_url_frontier_sketch",
        1 << 20,
        use_sketch=True,
    )


# Batch 0: docs 0..199 (ts base A); batch 1: docs 100..299 (base B, newer);
# batch 2: docs 200..349, key = doc % 300 (base C, newest — docs 300..349
# re-touch keys 0..49). Winner and version count per key are closed-form:
# keys 0..49 → C+300+k (2 versions), 50..99 → A+k (1), 100..199 → B+k (2),
# 200..299 → C+k (2).
_CDX_LATEST_ORACLE = """
WITH k AS (SELECT unnest(range(0, 300)) AS key)
SELECT 'com,example)/doc' || key AS surt,
       CAST(CASE WHEN key < 50 THEN 20240301000000 + 300 + key
                 WHEN key < 100 THEN 20240101000000 + key
                 WHEN key < 200 THEN 20240201000000 + key
                 ELSE 20240301000000 + key END AS BIGINT) AS ts,
       'http://example.com/doc' ||
         CASE WHEN key < 50 THEN 300 + key ELSE key END AS url,
       CASE WHEN key < 50 THEN 'sha1:C' || (300 + key)
            WHEN key < 100 THEN 'sha1:A' || key
            WHEN key < 200 THEN 'sha1:B' || key
            ELSE 'sha1:C' || key END AS digest,
       CAST(CASE WHEN key >= 50 AND key < 100 THEN 1 ELSE 2 END AS BIGINT)
         AS n_versions
FROM k
ORDER BY surt
"""


@register("stream_twin_cdx_latest", oracle=_CDX_LATEST_ORACLE)
def stream_twin_cdx_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-capture index maintenance
    (``operators/web.py:stream_cdx_latest`` → ``cdx_latest_resolve``) —
    the streaming twin of ``web_cdx_select``: three mtime-laddered
    micro-batches of raw CDXJ lines with overlapping key ranges and a
    wrap-around (batch 2 re-touches the oldest keys with the newest
    timestamps); each batch appends its own per-key winners stamped with
    the micro-batch id, and the reader resolves newest-per-key with a
    replay-safe (surt, batch_id) dedup. The oracle states every key's
    winning timestamp/url/digest AND its distinct-batch version count —
    a lost append, a replayed batch double-count, or a max on the wrong
    field (offset instead of ts) lands on different rows."""
    import glob as globmod

    from etl_lala_spark.operators.web import cdx_latest_resolve, stream_cdx_latest

    work = gate_workdir(spark, "stream_twin_cdx_latest")
    src = os.path.join(work, "src")
    store = os.path.join(work, "store")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)
    docs = load_table(spark, sf_dir, "documents")
    batches = (
        (0, 0, 200, 20240101000000, "sha1:A"),
        (1, 100, 300, 20240201000000, "sha1:B"),
        (2, 200, 350, 20240301000000, "sha1:C"),
    )
    t0 = 1_700_000_000
    with fixture_region("stream_twin_cdx_latest"):
        for b, lo, hi, base, dig in batches:
            d = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            ds = F.col("doc_id").cast("string")
            key = (F.col("doc_id") % 300).cast("string")
            line = F.concat(
                F.lit("com,example)/doc"), key, F.lit(" "),
                (F.lit(base) + F.col("doc_id")).cast("string"),
                F.lit(' {"url": "http://example.com/doc'), ds,
                F.lit('", "mime": "text/html", "status": "200", "digest": "'),
                F.lit(dig), ds,
                F.lit('", "length": "500", "offset": "'),
                (F.col("doc_id") * 10).cast("string"),
                F.lit('", "filename": "crawl/seg0.warc.gz"}'),
            )
            tmp = os.path.join(work, f"tmp{b}")
            d.select(line.alias("line")).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            (part,) = globmod.glob(os.path.join(tmp, "part-*.parquet"))
            dest = os.path.join(src, f"f{b}.parquet")
            os.rename(part, dest)
            os.utime(dest, (t0 + b, t0 + b))

        stream = (
            spark.readStream.schema("line string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_cdx_latest(stream, store, checkpoint=ckpt)
        q.awaitTermination(300)
        q.stop()
    return cdx_latest_resolve(spark, store).orderBy("surt")
