"""Managed-table writer with idempotent competência loads (reference S11/T5)
and the JSON sink + run manifest (S12, A5-A7).

The reference's loader creates a destination table on first sight
(``criada_agora``), appends per month, and skips months already present
(``competencias_existentes`` — src/datasus/datasus.service.ts:28-34).
Spark-first: parquet tables partitioned by the competência column; idempotency
is a literal filter of the incoming batch against the existing partition keys
(metadata-only listing, no data scan), so re-running a load is a no-op per
month — at 100 TB this stays O(partitions), not O(rows).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class LoadResult(dict):
    """Per-load metadata mirroring the reference's response contract
    (tabela.nome / criada_agora / registros_inseridos /
    competencias_existentes, src/datasus/datasus.service.ts:15-39)."""


def existing_partitions(spark: SparkSession, table_path: str, part_col: str) -> list[str]:
    """Partition values already present — read from the directory layout
    (metadata-only; no row scan). Spark's %XX path escapes are undone; the
    NULL partition is not listed, as the JDBC probe lists no NULL key."""
    if not os.path.isdir(table_path):
        return []
    vals = []
    for entry in sorted(os.listdir(table_path)):
        if entry.startswith(f"{part_col}="):
            val = entry.split("=", 1)[1]
            if val != "__HIVE_DEFAULT_PARTITION__":
                vals.append(re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), val))
    return vals


def skip_loaded(part_col: str, loaded: list[str]) -> str:
    """SQL text of the filter that keeps the rows of partitions not in
    ``loaded``: a literal ``NOT IN`` list, planned with no job, where a
    broadcast anti-join of the keys costs one. Rows with a NULL partition
    value are kept, as the anti-join keeps them, and no NULL goes into the
    list: ``x NOT IN (..., NULL)`` is never true."""
    col = "`" + part_col.replace("`", "``") + "`"
    values = ", ".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in loaded if v is not None
    )
    return f"{col} IS NULL OR {col} NOT IN ({values})"


def load_incremental(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    part_col: str = "competencia",
) -> LoadResult:
    """Create-if-absent + append, skipping partitions already loaded.

    Returns the reference-shaped metadata. The skip is a filter on the
    existing partition-key list (:func:`skip_loaded`), and the write is
    partitioned by ``part_col`` so downstream reads prune by month.
    """
    absent_before = not os.path.isdir(table_path)
    existing = existing_partitions(spark, table_path, part_col)

    batch = df.filter(skip_loaded(part_col, existing)) if existing else df

    # One pass: the count is observed on the write itself, so
    # registros_inseridos is exactly what landed, even from a changing or
    # nondeterministic source.
    obs = Observation()
    observed = batch.observe(obs, F.count(F.lit(1)).alias("n"))
    observed.write.mode("append").partitionBy(part_col).parquet(table_path)
    inserted = obs.get["n"]
    if absent_before and not inserted:
        # an empty first batch creates nothing: drop the bare directory the
        # write left behind
        shutil.rmtree(table_path, ignore_errors=True)

    return LoadResult(
        # criada_agora only when the table actually materialized this run
        tabela={
            "nome": os.path.basename(table_path),
            "criada_agora": absent_before and inserted > 0,
        },
        registros_inseridos=inserted,
        competencias_existentes=existing,
    )


def _jdbc_existing_partitions(
    spark: SparkSession,
    url: str,
    table: str,
    part_col: str,
    properties: dict[str, str] | None,
) -> tuple[list[str], bool]:
    """Distinct partition keys already in the destination table, fetched as a
    pushed-down subquery (the DISTINCT runs in the database, so only the
    month list crosses the wire — O(months), not O(rows)). Returns
    ``(keys, table_exists)``; a failed probe means the table does not exist
    yet and the append will create it."""
    probe = f"(SELECT DISTINCT {part_col} FROM {table}) AS existing_parts"
    try:
        rows = spark.read.jdbc(url=url, table=probe, properties=properties or {}).collect()
    except Exception as ex:
        # Only a MISSING table means "first load, skip list empty". Any
        # other probe failure (connection blip, permissions, bad part_col)
        # must propagate: treating it as absent would drop the skip filter
        # and re-insert the whole batch — exactly the duplication this
        # function exists to prevent.
        msg = str(ex).lower()
        absent = (
            "does not exist" in msg
            or "not found" in msg
            or "no such table" in msg
            or "undefined table" in msg
            or "table_or_view_not_found" in msg
        )
        if absent:
            return [], False
        raise
    return sorted(str(r[0]) for r in rows if r[0] is not None), True


def _jdbc_append(
    df: DataFrame, url: str, table: str, properties: dict[str, str] | None
) -> None:
    """Append via Spark's JDBC writer — each partition opens its own
    connection and batches inserts, so the load parallelism is the DataFrame's
    partitioning (callers with a throttled database should
    ``coalesce(n_connections)`` first). Append mode creates the table from the
    DataFrame schema when absent — the reference's dynamic CREATE TABLE
    (src/datasus/datasus.service.ts:15-39)."""
    df.write.mode("append").jdbc(url=url, table=table, properties=properties or {})


def load_incremental_jdbc(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    part_col: str = "competencia",
    properties: dict[str, str] | None = None,
) -> LoadResult:
    """JDBC form of :func:`load_incremental` — the reference's actual sink is
    Postgres (src/datasus/datasus.service.ts:15-39,
    OTIMIZACAO_API_PYTHON.md:144-179): create-if-absent, append per
    competência, skip months already loaded.

    Same idempotency contract as the parquet path: the skip list is a
    filter on the destination's DISTINCT month keys (computed
    database-side), so replaying a load inserts nothing. The sandbox has no
    database server, so this is exercised by unit tests over the probe/append
    seams; on a real cluster it is a straight pass-through to
    ``spark.read.jdbc`` / ``DataFrameWriter.jdbc``.
    """
    existing, table_exists = _jdbc_existing_partitions(
        spark, url, table, part_col, properties
    )

    batch = df.filter(skip_loaded(part_col, existing)) if existing else df
    batch = batch.persist()  # count and append must see the same rows
    try:
        inserted = batch.count()
        if inserted:
            _jdbc_append(batch, url, table, properties)
    finally:
        batch.unpersist()

    return LoadResult(
        tabela={
            "nome": table,
            "criada_agora": (not table_exists) and inserted > 0,
        },
        registros_inseridos=inserted,
        competencias_existentes=existing,
    )


def write_json_with_manifest(
    df: DataFrame, out_dir: str, name: str, manifest_name: str = "_indice.json"
) -> dict:
    """JSON sink + `_indice`-style run manifest (S12/A5:
    ESTRUTURA_DADOS_PROCESSADOS.md:33-73): write the records as JSON lines
    and a small manifest with count/column stats computed via ``observe``
    (single pass — no second scan for the stats)."""
    obs = Observation(f"manifest_{name}")
    observed = df.observe(obs, F.count(F.lit(1)).alias("total_registros"))
    observed.write.mode("overwrite").json(os.path.join(out_dir, name))

    manifest = {
        "arquivo": name,
        "total_registros": obs.get["total_registros"],
        "total_colunas": len(df.columns),
        "colunas": df.columns,
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, manifest_name), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def stream_scd2(
    stream_updates: DataFrame,
    table_path: str,
    key: str,
    tracked: list[str],
    checkpoint: str | None = None,
):
    """Streaming SCD type-2 maintenance: each micro-batch of dimension
    updates merges into the on-disk history via ``scd2_apply``
    (operators/relational.py) and atomically swaps the rewritten table in.

    Replay-safe without a checkpoint: SCD2 merges are idempotent (unchanged
    tracked values pass through, already-inserted keys become no-ops), so
    at-least-once upstream delivery yields exactly-once history. Dimension
    tables are small next to facts, so the per-batch rewrite is the cheap
    side; the fact path never rewrites. Returns the started StreamingQuery.
    """
    from etl_lala_spark.operators.relational import scd2_apply

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        backup = table_path.rstrip("/") + "._scd2prev"
        if not os.path.isdir(table_path) and os.path.isdir(backup):
            # a crash between the two swap renames left the table name
            # empty with the previous history parked in the backup —
            # restore it instead of silently restarting history from this
            # batch alone
            os.rename(backup, table_path)
        # scd2_apply merges ONE update per key: a batch carrying two
        # updates for the same key would join the current row twice and
        # duplicate is_current rows. Collapse to the latest per key
        # (effective_batch desc, tracked values as deterministic tiebreak).
        from pyspark.sql import Window as W

        w_latest = W.partitionBy(key).orderBy(
            F.col("effective_batch").desc(),
            *[F.col(c).desc() for c in tracked],
        )
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w_latest))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.isdir(table_path):
            current = spark.read.parquet(table_path)
        else:
            current = batch_df.select(
                F.col(key),
                *[F.col(c) for c in tracked],
                F.col("effective_batch").alias("valid_from"),
                F.lit(None).cast("long").alias("valid_to"),
                F.lit(True).alias("is_current"),
            ).limit(0)
        merged = scd2_apply(current, batch_df, key, tracked)
        staging = table_path.rstrip("/") + "._scd2merge"
        shutil.rmtree(staging, ignore_errors=True)
        merged.write.mode("overwrite").parquet(staging)
        if os.path.isdir(table_path):
            shutil.rmtree(backup, ignore_errors=True)
            os.rename(table_path, backup)
            os.rename(staging, table_path)
            shutil.rmtree(backup, ignore_errors=True)
        else:
            os.rename(staging, table_path)

    writer = stream_updates.writeStream.foreachBatch(merge).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def compact_partitions(
    spark: SparkSession,
    table_path: str,
    part_col: str = "competencia",
    files_per_partition: int = 1,
    sort_cols: tuple[str, ...] = (),
    drop_exact_duplicates: bool = False,
) -> dict:
    """Small-file compaction for a partitioned table — the maintenance pass
    every incrementally-loaded 100 TB table needs (each micro-batch/month
    append leaves small files; scan cost grows with file count, not bytes).

    ``drop_exact_duplicates`` collapses byte-identical rows during the
    rewrite (the rewrite already shuffles every row, so the dedup rides the
    same shuffle) — for stores whose readers distinct() away rows an
    at-least-once append may have doubled, this makes compaction the
    self-healing repair path instead of preserving the dead weight forever.

    Rewrites the table so each partition holds at most
    ``files_per_partition`` files: one shuffle keyed on (partition column,
    file salt) so rows co-locate per output file AND distinct partitions
    rewrite in parallel — hashing on the partition column alone would both
    funnel the whole table through ``files_per_partition`` tasks and make
    the >1 case a no-op (all of one partition's rows share one hash key,
    so they land in one task and one file regardless). Written to a
    staging dir then atomically swapped in. ``sort_cols`` re-sorts rows
    within the rewritten files (after the partition column), restoring the
    row-group min/max stats a zone-map reader relies on — appends
    interleave sort keys, so a compaction that didn't re-sort would
    silently destroy that pruning.
    Returns {files_before, files_after, rows}.
    """
    def count_files(root: str) -> int:
        n = 0
        for dirpath, _dirs, files in os.walk(root):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    backup = table_path.rstrip("/") + "._precompact"
    if not os.path.isdir(table_path) and os.path.isdir(backup):
        os.rename(backup, table_path)  # recover a swap interrupted mid-rename
    before = count_files(table_path)
    df = spark.read.parquet(table_path)
    if drop_exact_duplicates:
        df = df.dropDuplicates()
    staging = table_path.rstrip("/") + "._compacting"
    shutil.rmtree(staging, ignore_errors=True)
    # Deterministic salt (hash of the full row), NOT monotonically_
    # increasing_id(): a shuffle-map retry recomputes a nondeterministic
    # salt differently, and reducers that already fetched the first
    # attempt's blocks would keep them — silently duplicating/dropping
    # rows in the rewritten table (the same recompute hazard io.spread()
    # documents). Row-hash salting is retry-stable.
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]),
        F.lit(files_per_partition),
    )
    rewritten = (
        df.withColumn("_salt", salt)
        .repartition(F.col(part_col), F.col("_salt"))
        .drop("_salt")
    )
    if sort_cols:
        rewritten = rewritten.sortWithinPartitions(part_col, *sort_cols)
    rewritten.write.mode("overwrite").partitionBy(part_col).parquet(staging)
    # Row stat from the WRITTEN output, not a pre-pass over the input: a
    # separate df.count() would re-run the (possibly deduping) shuffle a
    # second time, doubling the maintenance pass's cost for a statistic.
    rows = spark.read.parquet(staging).count()
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(table_path, backup)
    os.rename(staging, table_path)
    shutil.rmtree(backup, ignore_errors=True)
    return {
        "files_before": before,
        "files_after": count_files(table_path),
        "rows": rows,
    }


def retain_latest_runs(base_dir: str, keep: int = 5) -> list[str]:
    """Keep-N-most-recent run retention (reference O3: the ops runbook keeps
    the 5 newest `execucao-*` dirs, ESTRUTURA_DADOS_PROCESSADOS.md:236-239 —
    `ls -t | tail -n +6 | xargs rm -rf`). Ordered by directory mtime,
    newest retained; returns the deleted paths."""
    if not os.path.isdir(base_dir):
        return []
    runs = sorted(
        (os.path.join(base_dir, d) for d in os.listdir(base_dir)
         if os.path.isdir(os.path.join(base_dir, d))),
        key=os.path.getmtime,
        reverse=True,
    )
    deleted = []
    for path in runs[keep:]:
        shutil.rmtree(path, ignore_errors=True)
        deleted.append(path)
    return deleted


def zvalue(a, b) -> F.Column:
    """Interleave two 16-bit bucketed values into a 32-bit Morton (Z-order)
    key — JVM bitwise ops only (shiftleft/&/|), whole-stage-codegen'd."""

    def spread16(x):
        x = x.bitwiseAND(F.lit(0xFFFF))
        x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
        x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
        x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
        return x

    return spread16(a).bitwiseOR(F.shiftleft(spread16(b), 1))


def write_zordered(
    df: DataFrame,
    table_path: str,
    zcols: tuple[str, str],
    n_files: int = 8,
) -> None:
    """Z-order (Morton-curve) clustered write: rows are range-partitioned
    and sorted by the interleaved key of TWO columns, so parquet row-group
    min/max stay tight on BOTH — a box predicate on either column (or both)
    skips most row groups, where a lexicographic sort only skips on its
    leading column.

    Each column is first scaled to a 16-bit bucket against its observed
    min/max (one 1-row aggregate, broadcast); the interleave itself is pure
    bitwise JVM arithmetic. This is the single-table analog of what
    lakehouse OPTIMIZE ZORDER does — at 100 TB pick n_files from the
    target file size, and compute the min/max from metadata instead."""
    a, b = zcols
    bounds = df.agg(
        F.min(a).alias("amin"),
        F.max(a).alias("amax"),
        F.min(b).alias("bmin"),
        F.max(b).alias("bmax"),
    )

    def bucket(col, lo, hi):
        span = F.when(F.col(hi) > F.col(lo), F.col(hi) - F.col(lo)).otherwise(F.lit(1))
        return F.least(
            F.lit(65535),
            F.floor((F.col(col) - F.col(lo)) / span * 65536).cast("long"),
        )

    z = zvalue(bucket(a, "amin", "amax"), bucket(b, "bmin", "bmax"))
    (
        df.join(F.broadcast(bounds))
        .withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "amin", "amax", "bmin", "bmax")
        .write.mode("overwrite")
        .parquet(table_path)
    )


def maintain_summary(
    stream_df: DataFrame,
    summary_path: str,
    keys: list[str],
    value_col: str,
    checkpoint: str | None = None,
):
    """Incremental materialized-view maintenance: keep a per-key
    (n_rows, value_sum) summary table up to date from a stream without ever
    recomputing it from the full fact history.

    Each micro-batch reduces to per-key deltas (count + sum are
    self-mergeable aggregates), merges them into the stored summary with a
    full-outer coalesce, and swaps the table atomically. A `_meta.json`
    INSIDE the table dir carries the last applied batch id and swaps in
    atomically with the data, so foreachBatch replays after a failure are
    applied exactly once (reference T6). Share ``checkpoint`` across
    restarts: batch ids are only monotone within one checkpointed query
    lineage — a fresh uncheckpointed query restarts ids at 0 and the guard
    (correctly, by its contract) treats them as already applied.

    At 100 TB the summary is keys-sized (not fact-sized); the per-batch cost
    is one partial agg of the batch + one merge of two key-sized tables.
    Returns the started StreamingQuery."""
    # meta lives INSIDE the table dir (underscore-prefixed: parquet readers
    # ignore it like _SUCCESS), so the batch-id watermark commits in the
    # SAME atomic rename as the merged data — a side file written after the
    # swap left a crash window where the data landed but the watermark
    # didn't, double-counting the batch on replay
    def _meta_path(root: str) -> str:
        return os.path.join(root, "_meta.json")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        backup = summary_path.rstrip("/") + "._premerge"
        if not os.path.isdir(summary_path) and os.path.isdir(backup):
            os.rename(backup, summary_path)  # recover interrupted swap
        last = -1
        if os.path.exists(_meta_path(summary_path)):
            with open(_meta_path(summary_path)) as fh:
                last = json.load(fh)["last_batch_id"]
        if batch_id <= last:
            return  # replayed batch: already folded in
        delta = batch_df.groupBy(*keys).agg(
            F.count("*").alias("d_n"), F.sum(value_col).alias("d_sum")
        )
        if os.path.isdir(summary_path):
            cur = spark.read.parquet(summary_path)
            merged = (
                cur.join(delta, keys, "full_outer")
                .select(
                    *keys,
                    (
                        F.coalesce(F.col("n_rows"), F.lit(0))
                        + F.coalesce(F.col("d_n"), F.lit(0))
                    ).alias("n_rows"),
                    (
                        F.coalesce(F.col("value_sum"), F.lit(0.0))
                        + F.coalesce(F.col("d_sum"), F.lit(0.0))
                    ).alias("value_sum"),
                )
            )
        else:
            merged = delta.select(
                *keys,
                F.col("d_n").alias("n_rows"),
                F.col("d_sum").alias("value_sum"),
            )
        staging = summary_path.rstrip("/") + "._merging"
        shutil.rmtree(staging, ignore_errors=True)
        merged.coalesce(1).write.mode("overwrite").parquet(staging)
        with open(_meta_path(staging), "w") as fh:
            json.dump({"last_batch_id": batch_id}, fh)
        shutil.rmtree(backup, ignore_errors=True)
        if os.path.isdir(summary_path):
            os.rename(summary_path, backup)
        os.rename(staging, summary_path)
        shutil.rmtree(backup, ignore_errors=True)

    w = stream_df.writeStream.foreachBatch(merge).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def delete_rows(
    spark: SparkSession,
    table_path: str,
    keys: DataFrame,
    key_col: str,
    part_col: str = "competencia",
    sort_cols: tuple[str, ...] = (),
) -> dict:
    """Targeted deletion (GDPR / right-to-be-forgotten) from a partitioned
    parquet table, rewriting ONLY the partitions that contain hits.

    Three steps, each bounded by the hit set rather than the table:
    (1) locate affected partitions with a key semi-join that reads just
    (key, partition) columns — partition pruning and column pruning keep
    this scan thin; (2) rewrite those partitions minus the keys into a
    temp directory; (3) swap the rewritten partition directories in via
    rename, leaving every untouched partition's files byte-identical — at
    100 TB deleting one user touches the handful of month directories
    they appear in, not the table. Returns
    {partitions_rewritten, rows_deleted}.

    Crash-safety: originals are staged into a backup directory OUTSIDE
    the table root before any swap, so no intermediate state ever leaves
    a bogus-but-parseable partition (e.g. ``competencia=X._old``) where
    Spark partition discovery would resurrect deleted rows. The swap
    itself is per-partition rename, not transactional: a crash mid-swap
    can leave some affected partitions temporarily absent (readers see
    fewer rows, never deleted ones); the staged backups in
    ``<table>._delete_backup`` allow manual restore.

    (A table format with deletion vectors — Delta/Iceberg — turns step 2
    into a metadata write; this is the format-free equivalent with the
    same blast-radius bound.)
    """
    k = F.broadcast(keys.select(F.col(key_col)).distinct())
    table = spark.read.parquet(table_path)
    affected = sorted(
        r[0]
        for r in table.join(k, key_col, "left_semi")
        .select(part_col)
        .distinct()
        .collect()
    )
    if not affected:
        return {"partitions_rewritten": [], "rows_deleted": 0}

    sub = table.where(F.col(part_col).isin(affected))
    kept = sub.join(k, key_col, "left_anti")
    # Row accounting from parquet FOOTERS, not count jobs: the affected
    # partitions' pre-delete rows are already on disk under
    # ``{part_col}={part}`` (the same names phase 1 renames), and the
    # post-delete rows land in tmp below — both exact driver-side
    # metadata walks, where ``sub.count() - kept.count()`` paid two full
    # scans of every affected partition (the anti-join twice over).
    from etl_lala_spark.operators.web import _parquet_dir_rows

    sub_rows = sum(
        _parquet_dir_rows(os.path.join(table_path, f"{part_col}={part}"))
        for part in affected
    )
    tmp = table_path.rstrip("/") + "._delete_tmp"
    backup = table_path.rstrip("/") + "._delete_backup"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)
    if sort_cols:
        # Rewrites must preserve the table's within-file sort (zone-map
        # row-group stats), same contract as compact_partitions.
        kept = kept.sortWithinPartitions(part_col, *sort_cols)
    kept.write.partitionBy(part_col).parquet(tmp)
    deleted = sub_rows - _parquet_dir_rows(tmp)
    os.makedirs(backup, exist_ok=True)
    # Phase 1: move every original out of the table root first. After this
    # loop the table no longer contains any to-be-deleted row, and nothing
    # inside the root parses as a partition it shouldn't.
    for part in affected:
        os.rename(
            os.path.join(table_path, f"{part_col}={part}"),
            os.path.join(backup, f"{part_col}={part}"),
        )
    # Phase 2: move the rewrites in. A fully-deleted partition produces no
    # directory in the rewrite output and simply stays absent.
    for part in affected:
        src = os.path.join(tmp, f"{part_col}={part}")
        if os.path.isdir(src):
            os.rename(src, os.path.join(table_path, f"{part_col}={part}"))
    # Phase 3: originals are only discarded once every swap succeeded.
    shutil.rmtree(backup)
    shutil.rmtree(tmp, ignore_errors=True)
    return {"partitions_rewritten": affected, "rows_deleted": deleted}


def shard_assignments(
    df: "DataFrame",
    shard_bytes: int,
    seed: str = "0",
    id_col: str = "doc_id",
    size_col: str | None = None,
    text_col: str = "text",
    n_range_buckets: int = 256,
) -> "DataFrame":
    """Deterministic seeded global shuffle + size-targeted shard assignment
    — the delivery stage of a training-data pipeline (fixed-size .jsonl.gz
    / tar shards in a reproducible, seed-keyed order; WebDataset/Dolma
    release convention). Every doc gets ``shuffle_key`` (md5 of
    seed:doc-id — changing the seed is a fresh epoch-quality reshuffle,
    same plan), ``cum_bytes`` (its LAST byte's position in the
    key-ordered corpus) and ``shard`` (greedy byte packing: a shard takes
    docs until ``shard_bytes`` is crossed, overflowing by at most one doc
    — the streaming-pack tradeoff ``curate_sequence_packing`` documents).

    The global running sum is a DISTRIBUTED PREFIX SUM, not a
    single-partition window (``orderBy`` with no ``partitionBy`` collapses
    100 TB onto one task — the anti-pattern this operator exists to
    avoid): (1) rows range-bucket by their key's first byte — a PREFIX of
    the sort key, so bucket order refines key order; (2) one hash agg
    computes per-bucket byte totals (``n_range_buckets`` rows — driver
    math by construction) whose running sum gives each bucket its global
    byte offset; (3) a window WITHIN each bucket adds the offset. Shuffle
    cost: one corpus shuffle on the bucket key; every other piece is a
    broadcast join or arithmetic."""
    from pyspark.sql import Window as W

    size = (
        F.col(size_col).cast("bigint")
        if size_col
        else F.octet_length(F.col(text_col)).cast("bigint")
    )
    key = F.md5(F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")))
    if not 1 <= n_range_buckets <= 256:
        raise ValueError("shard_assignments: n_range_buckets must be in 1..256")
    keyed = df.withColumn("shuffle_key", key).withColumn("_bytes", size)
    # First-byte bucket scaled monotonically onto 0..n_range_buckets-1 so
    # bucket order always refines key order (a modulo here would interleave
    # buckets and silently corrupt the global prefix sum).
    byte0 = F.conv(F.substring("shuffle_key", 1, 2), 16, 10).cast("int")
    bucket = F.floor(byte0 * F.lit(n_range_buckets) / F.lit(256)).cast("int")
    keyed = keyed.withColumn("_bucket", bucket)
    # (2) bucket totals -> exclusive prefix offsets (n_range_buckets rows;
    # the collect is bounded by construction, never by the data)
    totals = {
        int(r["_bucket"]): int(r["s"])
        for r in keyed.groupBy("_bucket").agg(F.sum("_bytes").alias("s")).collect()
    }
    offsets, acc = [], 0
    for b in range(n_range_buckets):
        offsets.append((b, acc))
        acc += totals.get(b, 0)
    spark = df.sparkSession
    off = F.broadcast(
        spark.createDataFrame(offsets, "_bucket int, _offset long")
    )
    w = (
        W.partitionBy("_bucket")
        .orderBy("shuffle_key", id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = (
        keyed.join(off, "_bucket")
        .withColumn("cum_bytes", F.col("_offset") + F.sum("_bytes").over(w))
        .withColumn(
            "shard",
            F.floor((F.col("cum_bytes") - F.col("_bytes")) / F.lit(int(shard_bytes)))
            .cast("bigint"),
        )
    )
    return out.withColumnRenamed("_bytes", "doc_bytes").drop("_bucket", "_offset")


def shard_manifest(assignments: "DataFrame") -> "DataFrame":
    """Per-shard release manifest over :func:`shard_assignments` output:
    (shard, n_docs, shard_bytes_actual, min_key, max_key). One hash agg;
    the manifest is what a release publishes next to the shard files so a
    consumer can verify completeness without reading the data."""
    return assignments.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("doc_bytes").cast("bigint").alias("shard_bytes_actual"),
        F.min("shuffle_key").alias("min_key"),
        F.max("shuffle_key").alias("max_key"),
    )
