"""Load-path tests: dynamic table creation, append, idempotent competência
re-load (reference S11/T5/S12)."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from etl_lala_spark.sinks import writer

TMP = os.path.join(os.path.dirname(__file__), ".tmp", "sink")


@pytest.fixture()
def out_dir():
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP, exist_ok=True)
    yield TMP


def _batch(spark, months):
    rows = [(m, f"v{i}") for m in months for i in range(5)]
    return spark.createDataFrame(rows, "competencia string, valor string")


def test_incremental_load_is_idempotent(spark, out_dir):
    path = os.path.join(out_dir, "sia_pa")

    r1 = writer.load_incremental(spark, _batch(spark, ["202501", "202502"]), path)
    assert r1["tabela"]["criada_agora"] is True
    assert r1["registros_inseridos"] == 10
    assert r1["competencias_existentes"] == []

    # same months again: anti-join drops everything (reference skip-list)
    r2 = writer.load_incremental(spark, _batch(spark, ["202501", "202502"]), path)
    assert r2["tabela"]["criada_agora"] is False
    assert r2["registros_inseridos"] == 0
    assert sorted(r2["competencias_existentes"]) == ["202501", "202502"]

    # one new month: only its rows land
    r3 = writer.load_incremental(spark, _batch(spark, ["202502", "202503"]), path)
    assert r3["registros_inseridos"] == 5

    total = spark.read.parquet(path)
    assert total.count() == 15
    assert sorted(
        r["competencia"] for r in total.select("competencia").distinct().collect()
    ) == ["202501", "202502", "202503"]
    # partition pruning works on the layout
    assert total.filter(F.col("competencia") == "202501").count() == 5


def test_load_incremental_skip_filter_edge_values(spark, out_dir):
    """The replay skip is a literal filter on the loaded partition values:
    rows with a NULL partition value are appended on every load, as a
    left-anti join appends them; an int-typed partition column skips the
    rows the anti-join skipped; and a value holding a quote and a
    backslash is found on disk and skipped on replay."""
    from etl_lala_spark.io import tiny_df

    assert writer.skip_loaded("c`x", ["a'b\\", None]) == (
        "`c``x` IS NULL OR `c``x` NOT IN ('a\\'b\\\\')"
    )

    nulls = os.path.join(out_dir, "nulls")
    batch = spark.createDataFrame([("202501", "a"), (None, "b")], "competencia string, v string")
    assert writer.load_incremental(spark, batch, nulls)["registros_inseridos"] == 2
    again = writer.load_incremental(spark, batch, nulls)
    assert again["registros_inseridos"] == 1
    assert again["competencias_existentes"] == ["202501"]
    assert spark.read.parquet(nulls).filter("competencia IS NULL").count() == 2

    ints = os.path.join(out_dir, "ints")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "p int, v string")
    writer.load_incremental(spark, first, ints, part_col="p")
    replay = spark.createDataFrame([(1, "c"), (2, "d"), (3, "e"), (3, "f")], "p int, v string")
    loaded = writer.existing_partitions(spark, ints, "p")
    anti = replay.join(tiny_df(spark, [(v,) for v in loaded], "p string"), "p", "left_anti")
    res = writer.load_incremental(spark, replay, ints, part_col="p")
    assert res["registros_inseridos"] == anti.count() == 2
    assert sorted(r.v for r in spark.read.parquet(ints).collect()) == ["a", "b", "e", "f"]

    quoted = os.path.join(out_dir, "quoted")
    odd = "it's C:\\dir"
    batch = spark.createDataFrame([(odd, "a"), ("plain", "b")], "competencia string, v string")
    assert writer.load_incremental(spark, batch, quoted)["registros_inseridos"] == 2
    again = writer.load_incremental(spark, batch, quoted)
    assert again["registros_inseridos"] == 0
    assert sorted(again["competencias_existentes"]) == sorted([odd, "plain"])
    assert {r.competencia for r in spark.read.parquet(quoted).collect()} == {odd, "plain"}


def test_json_sink_with_manifest(spark, out_dir):
    df = _batch(spark, ["202501"])
    manifest = writer.write_json_with_manifest(df, out_dir, "PAPE2501")
    assert manifest["total_registros"] == 5
    assert manifest["total_colunas"] == 2
    with open(os.path.join(out_dir, "_indice.json")) as fh:
        assert json.load(fh)["arquivo"] == "PAPE2501"
    back = spark.read.json(os.path.join(out_dir, "PAPE2501"))
    assert back.count() == 5


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-bucketed fact⨝fact joins must plan with zero shuffles — the
    bucket layout replaces the exchange (100 TB join strategy)."""
    from etl_lala_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    for t in ("bkt_lineitem", "bkt_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if warehouse:
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    writer.write_bucketed(li, "bkt_lineitem", "l_orderkey", n_buckets=8)
    writer.write_bucketed(o, "bkt_orders", "l_orderkey", n_buckets=8)
    # Force the fact⨝fact scenario: at 100 TB neither side broadcasts.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = writer.join_cobucketed(
            spark, "bkt_lineitem", "bkt_orders", "l_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # and the join result matches the plain (shuffling) join
        assert joined.count() == li.join(o, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_partitions_reduces_files_preserves_rows(spark, out_dir):
    """Incremental appends leave small files; compaction must shrink the
    file count without changing the data."""
    path = os.path.join(out_dir, "compact_t")
    for months in (["202401"], ["202402"], ["202403"]):
        # several small appends per month
        for _ in range(3):
            df = _batch(spark, months).withColumn(
                "valor", F.concat(F.col("valor"), F.lit("_x"))
            )
            df.write.mode("append").partitionBy("competencia").parquet(path)
    before_rows = spark.read.parquet(path).count()
    stats = writer.compact_partitions(spark, path, part_col="competencia")
    assert stats["files_before"] > stats["files_after"]
    assert stats["files_after"] <= 3  # one file per month partition
    after = spark.read.parquet(path)
    assert after.count() == before_rows == stats["rows"]
    # partition pruning still works on the compacted layout
    assert after.filter(F.col("competencia") == "202402").count() == before_rows // 3


def test_write_sorted_tightens_row_group_stats(spark, out_dir):
    """Sorted files must have non-overlapping, ordered row-group min/max on
    the sort key (the data-skipping precondition)."""
    import pyarrow.parquet as pq
    from etl_lala_spark.io import load_table

    path = os.path.join(out_dir, "sorted_t")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumn(
        "competencia", F.date_format("l_shipdate", "yyyy")
    )
    writer.write_sorted(li, path, part_col="competencia", sort_cols=("l_partkey",))
    assert spark.read.parquet(path).count() == li.count()
    checked = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_partkey"]
            prev_max = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                assert st.min <= st.max
                if prev_max is not None:
                    assert st.min >= prev_max  # ordered, non-overlapping
                prev_max = st.max
                checked += 1
    assert checked > 0


def test_retain_latest_runs(spark, out_dir):
    import time

    base = os.path.join(out_dir, "runs")
    os.makedirs(base)
    for i in range(7):
        d = os.path.join(base, f"execucao-{i}")
        os.makedirs(d)
        os.utime(d, (1000 + i, 1000 + i))
    deleted = writer.retain_latest_runs(base, keep=5)
    remaining = sorted(os.listdir(base))
    assert remaining == [f"execucao-{i}" for i in range(2, 7)]
    assert sorted(deleted) == [os.path.join(base, f"execucao-{i}") for i in range(2)]


def test_write_zordered_skips_on_both_columns(spark, out_dir):
    """Z-order clustering must give real skipping power on BOTH columns: for
    a box predicate on (l_partkey, l_suppkey), fewer row groups overlap the
    box than under a lexicographic sort's trailing column, and the trailing
    column's per-row-group ranges must not all span the full domain."""
    import pyarrow.parquet as pq
    from etl_lala_spark.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath = os.path.join(out_dir, "zorder_t")
    lexpath = os.path.join(out_dir, "lex_t")
    writer.write_zordered(li, zpath, zcols=("l_partkey", "l_suppkey"), n_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey", "l_suppkey")
        .write.mode("overwrite")
        .parquet(lexpath)
    )
    assert spark.read.parquet(zpath).count() == li.count()

    def rg_ranges(path, col):
        out = []
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    out.append((st.min, st.max))
        return out

    # thin box (lowest 10%) on the TRAILING/second dimension, relative to
    # the observed domain so the test holds at any scale factor
    bounds = li.agg(F.min("l_suppkey"), F.max("l_suppkey")).first()
    smin, smax = bounds[0], bounds[1]
    lo, hi = smin, smin + max(1, (smax - smin) // 10)
    z_hit = sum(1 for mn, mx in rg_ranges(zpath, "l_suppkey") if mx >= lo and mn <= hi)
    z_all = len(rg_ranges(zpath, "l_suppkey"))
    lex_hit = sum(
        1 for mn, mx in rg_ranges(lexpath, "l_suppkey") if mx >= lo and mn <= hi
    )
    lex_all = len(rg_ranges(lexpath, "l_suppkey"))
    # lexicographic: every row group spans ~the full suppkey domain -> no skip
    assert lex_hit == lex_all
    # z-order: a thin suppkey box must actually skip row groups
    assert z_hit < z_all, f"z-order skipped nothing ({z_hit}/{z_all})"


def test_maintain_summary_incremental_matches_batch(spark, sf_dir, out_dir):
    """Incremental materialized view: after streaming all files (one per
    trigger), the summary equals the batch groupBy; re-running the stream
    (replay without checkpoint) must not double-count."""
    from etl_lala_spark.io import load_events
    from etl_lala_spark.streaming import windows as sw

    src = os.path.join(out_dir, "mv_src")
    summary = os.path.join(out_dir, "mv_summary")
    ev = load_events(spark, sf_dir)
    ev.repartition(4).write.mode("overwrite").parquet(src)

    def run():
        q = writer.maintain_summary(
            sw.read_event_stream(spark, src, max_files_per_trigger=1),
            summary,
            keys=["event_type"],
            value_col="value",
        )
        q.awaitTermination(180)
        q.stop()

    run()
    got = {
        r["event_type"]: (r["n_rows"], round(r["value_sum"], 2))
        for r in spark.read.parquet(summary).collect()
    }
    want = {
        r["event_type"]: (r["n"], round(r["s"], 2))
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want
    # replay the whole stream with a fresh (uncheckpointed) query: batch ids
    # restart at 0 and every batch is <= last applied -> no double counting
    run()
    got2 = {
        r["event_type"]: (r["n_rows"], round(r["value_sum"], 2))
        for r in spark.read.parquet(summary).collect()
    }
    assert got2 == want


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """SURVEY §1.3 schema evolution: a later month arrives with a NEW column
    (DATASUS layouts grow over time). The partitioned append succeeds and a
    mergeSchema read unions the layouts — old rows surface NULL for the new
    column, new rows carry it."""
    from etl_lala_spark.sinks import writer as w

    table = str(tmp_path / "evolving")
    m1 = spark.createDataFrame(
        [("202501", "1", "EP")], "competencia string, ap_mvm string, ap_condic string"
    )
    w.load_incremental(spark, m1, table)
    m2 = spark.createDataFrame(
        [("202502", "2", "PG", "NEW")],
        "competencia string, ap_mvm string, ap_condic string, ap_extra string",
    )
    w.load_incremental(spark, m2, table)

    merged = spark.read.option("mergeSchema", True).parquet(table)
    assert set(merged.columns) == {"competencia", "ap_mvm", "ap_condic", "ap_extra"}
    rows = {r["competencia"]: r for r in merged.collect()}
    assert rows["202501"]["ap_extra"] is None
    assert rows["202502"]["ap_extra"] == "NEW"


def test_backfill_fills_only_missing_partitions(spark, sf_dir, tmp_path):
    """Backfill computes rows for exactly the missing months: pre-loaded
    partitions are untouched (same file set), holes are filled, and a
    second backfill is a no-op."""
    import os

    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks.writer import backfill_partitions

    table = str(tmp_path / "orders_monthly")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "competencia", F.date_format("o_orderdate", "yyyyMM")
    )
    months = sorted(r.competencia for r in o.select("competencia").distinct().collect())
    assert len(months) >= 3
    seed, holes = months[:1] + months[2:], [months[1]]
    o.where(F.col("competencia").isin(seed)).write.partitionBy("competencia").parquet(table)
    before = set()
    for d in os.listdir(table):
        if d.startswith("competencia="):
            for f in os.listdir(os.path.join(table, d)):
                before.add((d, f))

    calls = []

    def compute(spark_, keys):
        calls.append(list(keys))
        return o.where(F.col("competencia").isin(keys))

    res = backfill_partitions(spark, table, months, compute)
    assert res["competencias_backfilled"] == holes
    assert calls == [holes]
    got = spark.read.parquet(table)
    assert got.count() == o.count()
    # pre-existing partition files untouched (append created new dirs only)
    after = set()
    for d in os.listdir(table):
        if d.startswith("competencia="):
            for f in os.listdir(os.path.join(table, d)):
                after.add((d, f))
    assert before <= after

    res2 = backfill_partitions(spark, table, months, compute)
    assert res2["competencias_backfilled"] == [] and len(calls) == 1


def test_delete_rows_rewrites_only_affected_partitions(spark, sf_dir, tmp_path):
    """Deleting a key rewrites just the partitions containing it: other
    partitions' files stay byte-identical, the key is gone, all other rows
    survive, and a re-delete is a no-op."""
    import os

    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks.writer import delete_rows

    table = str(tmp_path / "orders_t")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "competencia", F.date_format("o_orderdate", "yyyyMM")
    )
    o.write.partitionBy("competencia").parquet(table)

    victim = o.select("o_custkey").first().o_custkey
    victim_rows = o.where(F.col("o_custkey") == victim)
    victim_parts = {
        r.competencia for r in victim_rows.select("competencia").distinct().collect()
    }
    all_parts = {r.competencia for r in o.select("competencia").distinct().collect()}
    untouched = all_parts - victim_parts
    assert untouched, "fixture must include partitions without the victim"

    def files_of(parts):
        out = {}
        for p in parts:
            d = os.path.join(table, f"competencia={p}")
            out[p] = sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
                if not f.startswith(".")
            )
        return out

    before = files_of(untouched)
    keys = spark.createDataFrame([(victim,)], "o_custkey bigint")
    res = delete_rows(spark, table, keys, "o_custkey")
    assert sorted(res["partitions_rewritten"]) == sorted(victim_parts)
    assert res["rows_deleted"] == victim_rows.count()
    assert files_of(untouched) == before

    got = spark.read.parquet(table)
    assert got.where(F.col("o_custkey") == victim).count() == 0
    assert got.count() == o.count() - victim_rows.count()

    res2 = delete_rows(spark, table, keys, "o_custkey")
    assert res2 == {"partitions_rewritten": [], "rows_deleted": 0}


def test_dataset_card_accounting(spark, sf_dir, tmp_path):
    """The dataset card's global numbers must agree with directly-computed
    counts, and composition must cover the whole corpus exactly."""
    import json
    import os

    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks.writer import write_dataset_card

    docs = load_table(spark, sf_dir, "documents")
    card = write_dataset_card(docs, str(tmp_path))
    with open(os.path.join(str(tmp_path), "dataset_card.json")) as fh:
        on_disk = json.load(fh)
    assert on_disk == card
    assert card["n_docs"] == docs.count()
    assert sum(c["n_docs"] for c in card["composition"]) == card["n_docs"]
    total_tok = sum(c["ws_tokens"] for c in card["composition"])
    assert total_tok == card["total_ws_tokens"]
    assert 0.0 <= card["duplicate_rate"] < 1.0
    assert (
        card["char_length"]["min"]
        <= card["char_length"]["p50"]
        <= card["char_length"]["max"]
    )


def test_delete_rows_staging_invisible_to_readers(spark, sf_dir, tmp_path):
    """Crash-safety contract (ADVICE r01): originals are staged OUTSIDE the
    table root, so no intermediate or leftover state is parseable as a
    partition — a reader never resurrects deleted rows. A stale backup dir
    from a crashed earlier run must not affect reads and must be replaced
    by the next delete."""
    import os

    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks.writer import delete_rows

    table = str(tmp_path / "orders_t2")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "competencia", F.date_format("o_orderdate", "yyyyMM")
    )
    o.write.partitionBy("competencia").parquet(table)
    n_total = o.count()

    # Simulate a crashed earlier run: stale backup + tmp dirs next to the
    # table root, each containing a would-be partition directory.
    for stale in (table + "._delete_backup", table + "._delete_tmp"):
        os.makedirs(os.path.join(stale, "competencia=999901"))
        with open(os.path.join(stale, "competencia=999901", "junk"), "w") as fh:
            fh.write("x")
    assert spark.read.parquet(table).count() == n_total  # staging invisible

    victim = o.select("o_custkey").first().o_custkey
    keys = spark.createDataFrame([(victim,)], "o_custkey bigint")
    res = delete_rows(spark, table, keys, "o_custkey")
    assert res["rows_deleted"] > 0
    # Success path removes both staging dirs entirely, stale content included.
    assert not os.path.exists(table + "._delete_backup")
    assert not os.path.exists(table + "._delete_tmp")
    # And nothing inside the table root parses as an unexpected partition.
    got = spark.read.parquet(table)
    assert got.count() == n_total - res["rows_deleted"]
    assert got.where(F.col("competencia") == "999901").count() == 0


def test_jdbc_incremental_load_mocked(spark, monkeypatch):
    """JDBC pass-through (reference Postgres sink S11): no database server in
    the sandbox, so exercise the probe/append seams — first load creates the
    table and inserts everything; replay with an overlapping month inserts
    only the new month's rows."""
    store: dict[str, list] = {}

    def fake_probe(spark_, url, table, part_col, properties):
        rows = store.get(table)
        if rows is None:
            return [], False
        return sorted({r["competencia"] for r in rows}), True

    def fake_append(df, url, table, properties):
        store.setdefault(table, []).extend(r.asDict() for r in df.collect())

    monkeypatch.setattr(writer, "_jdbc_existing_partitions", fake_probe)
    monkeypatch.setattr(writer, "_jdbc_append", fake_append)

    url = "jdbc:postgresql://db:5432/datasus"
    r1 = writer.load_incremental_jdbc(
        spark, _batch(spark, ["202501", "202502"]), url, "sia_pa"
    )
    assert r1["tabela"] == {"nome": "sia_pa", "criada_agora": True}
    assert r1["registros_inseridos"] == 10
    assert r1["competencias_existentes"] == []
    assert len(store["sia_pa"]) == 10

    # replay with one overlapping + one new month: skip-list drops the overlap
    r2 = writer.load_incremental_jdbc(
        spark, _batch(spark, ["202502", "202503"]), url, "sia_pa"
    )
    assert r2["tabela"]["criada_agora"] is False
    assert r2["registros_inseridos"] == 5
    assert sorted(r2["competencias_existentes"]) == ["202501", "202502"]
    assert len(store["sia_pa"]) == 15

    # exact replay: pure no-op
    r3 = writer.load_incremental_jdbc(
        spark, _batch(spark, ["202501", "202503"]), url, "sia_pa"
    )
    assert r3["registros_inseridos"] == 0
    assert len(store["sia_pa"]) == 15


def test_versioned_table_snapshot_isolation_and_rollback(spark, out_dir):
    """Versioned tables: append is a metadata union; a reader pinned to an
    old version is unaffected by later commits; rollback restores content
    as a NEW auditable version; vacuum removes only unreferenced dirs."""
    import os

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    d2 = spark.createDataFrame([(3, "c")], "k int, v string")
    d3 = spark.createDataFrame([(9, "z")], "k int, v string")

    assert vt.write_version(d1, table, mode="overwrite") == 1
    assert vt.write_version(d2, table, mode="append") == 2
    # pin a reader at v1 BEFORE the overwrite lands
    pinned = vt.read_version(spark, table, version=1)
    assert vt.write_version(d3, table, mode="overwrite") == 3

    assert {r.k for r in vt.read_version(spark, table).collect()} == {9}
    assert {r.k for r in vt.read_version(spark, table, version=2).collect()} == {1, 2, 3}
    # snapshot isolation: the pinned plan still reads v1's files
    assert {r.k for r in pinned.collect()} == {1, 2}

    # rollback to v2 = new version 4 with v2's content; history intact
    assert vt.rollback(table, 2) == 4
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2, 3}
    assert [m["version"] for m in vt.table_versions(table)] == [1, 2, 3, 4]
    assert vt.table_versions(table)[-1]["op"] == "rollback:2"

    # vacuum keeps the last 2 manifests (v3, v4); v4 references d1+d2, so
    # only nothing-references-me dirs go — none here except none; then a
    # deeper vacuum to 1 drops v3's d3 dir too
    assert vt.vacuum(table, keep_last=2) == []
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2, 3}
    removed = vt.vacuum(table, keep_last=1)
    assert removed == ["d000003"]  # v3's overwrite dir: unreferenced by v4
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2, 3}
    # expired manifests are gone; latest still readable
    assert [m["version"] for m in vt.table_versions(table)] == [4]


def test_merge_version_applies_cdc_and_rolls_back(spark, out_dir):
    """CDC merge as a versioned commit: upserts+deletes land atomically as
    a new version; a bad feed is undone by rollback without data loss."""
    import os

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_cdc")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    vt.write_version(base, table)

    log = spark.createDataFrame(
        [(2, 1, "U", "b2"), (3, 1, "D", None), (4, 1, "I", "d")],
        "k int, seq int, op string, v string",
    )
    v2 = vt.merge_version(spark, table, log.select("k", "v", "seq", "op"), key="k")
    assert v2 == 2
    got = {(r.k, r.v) for r in vt.read_version(spark, table).collect()}
    assert got == {(1, "a"), (2, "b2"), (4, "d")}

    # the "bad feed" scenario: roll the merge back, original snapshot returns
    vt.rollback(table, 1)
    got = {(r.k, r.v) for r in vt.read_version(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_versioned_concurrent_commit_cas(spark, out_dir):
    """Two writers racing the same version id: the hard-link CAS admits
    exactly one per id; the loser retries against the new latest without
    rewriting data. Simulated by pre-claiming the manifest the next commit
    would take. A torn (half-written) manifest at an uncommitted name is
    ignored by readers."""
    import json
    import os

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_race")
    d = spark.createDataFrame([(1, "a")], "k int, v string")
    vt.write_version(d, table)

    # Rival writer commits version 2 out from under us (valid manifest
    # with its own data dir — mimic by rolling back, which is metadata-only).
    rival = vt._manifest_path(table, 2)
    os.makedirs(os.path.dirname(rival), exist_ok=True)
    with open(rival, "w") as fh:
        json.dump(
            {"version": 2, "op": "overwrite", "dirs": ["d000001"],
             "n_rows": 1, "schema": "struct<k:int,v:string>", "ts": 0}, fh
        )
    # Our commit must skip to version 3, not clobber or fail.
    v = vt.write_version(spark.createDataFrame([(2, "b")], "k int, v string"), table)
    assert v == 3
    assert {r.k for r in vt.read_version(spark, table).collect()} == {2}
    assert [m["version"] for m in vt.table_versions(table)] == [1, 2, 3]

    # torn manifest: unparseable JSON at a would-be version 4 name is
    # invisible to readers (not committed)...
    torn = vt._manifest_path(table, 4)
    with open(torn, "w") as fh:
        fh.write('{"version": 4, "op": "overwr')
    assert [m["version"] for m in vt.table_versions(table)] == [1, 2, 3]
    assert {r.k for r in vt.read_version(spark, table).collect()} == {2}
    # ...and the next commit RECLAIMS the wedged id instead of spinning on
    # it forever (the torn file blocks the link CAS but parses as garbage).
    v4 = vt.write_version(spark.createDataFrame([(7, "g")], "k int, v string"), table)
    assert v4 == 4
    assert {r.k for r in vt.read_version(spark, table).collect()} == {7}
    assert [m["version"] for m in vt.table_versions(table)] == [1, 2, 3, 4]
    # a vacuumed/unknown pinned read fails with a clear error, not KeyError
    import pytest as _pytest

    with _pytest.raises(ValueError, match="version 99 not found"):
        vt.read_version(spark, table, version=99)


def test_versioned_schema_evolution_and_compaction(spark, out_dir):
    """Appends may widen the schema (month-over-month column additions):
    reads merge to the union schema with nulls backfilled; compaction
    rewrites the fragmented snapshot into one directory as a new version
    with identical content."""
    import os

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_evolve")
    vt.write_version(spark.createDataFrame([(1, "a")], "k int, v string"), table)
    vt.write_version(
        spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double"),
        table,
        mode="append",
    )
    got = {(r.k, r.v, r.score) for r in vt.read_version(spark, table).collect()}
    assert got == {(1, "a", None), (2, "b", 9.5)}

    v3 = vt.compact_version(spark, table)
    assert v3 == 3
    m = vt.table_versions(table)[-1]
    assert len(m["dirs"]) == 1  # fragmentation collapsed
    got3 = {(r.k, r.v, r.score) for r in vt.read_version(spark, table).collect()}
    assert got3 == got
    # pre-compaction snapshot still readable until vacuumed
    got2 = {(r.k, r.v, r.score) for r in vt.read_version(spark, table, version=2).collect()}
    assert got2 == got


def test_versioned_orphan_claim_reclaimed(spark, out_dir):
    """A writer that crashed between claiming dN and committing its manifest
    must not wedge the table: the stale unreferenced claim is reclaimed and
    the next commit takes the name. A FRESH claim (inside the grace window)
    is left alone."""
    import os
    import time

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_orphan")
    vt.write_version(spark.createDataFrame([(1, "a")], "k int, v string"), table)

    # Crashed writer: claimed d000002, never committed, long dead.
    orphan = os.path.join(table, "d000002")
    os.makedirs(orphan)
    stale = time.time() - 120
    os.utime(orphan, (stale, stale))

    v = vt.write_version(spark.createDataFrame([(2, "b")], "k int, v string"), table)
    assert v == 2
    assert {r.k for r in vt.read_version(spark, table).collect()} == {2}
    # the orphan's bytes are gone, replaced by the real v2 data dir
    assert {r.k for r in spark.read.parquet(orphan).collect()} == {2}

    # A fresh (live) claim is NOT reclaimed: _reclaim_orphan_dir refuses.
    fresh = os.path.join(table, "d000003")
    os.makedirs(fresh)
    assert vt._reclaim_orphan_dir(table, fresh, 3) is False
    assert os.path.isdir(fresh)
    # ...and a stale dir REFERENCED by a manifest is also refused.
    d2 = os.path.join(table, "d000002")
    os.utime(d2, (stale, stale))
    assert vt._reclaim_orphan_dir(table, d2, 99) is False
    assert os.path.isdir(d2)


def test_versioned_concurrent_threaded_writers_lose_nothing(spark, out_dir):
    """Real contention: 4 threads in ONE process (shared pid — the parallel-
    jobs driver shape) each commit 3 appends to the same table. The CAS
    protocol must serialize all 12 commits with zero lost updates and
    unique writer-private staging/temp names per call, not per pid."""
    import os
    import threading

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_threads")
    vt.write_version(spark.createDataFrame([(0, -1)], "w int, i int"), table)

    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            for i in range(3):
                df = spark.createDataFrame([(w, i)], "w int, i int")
                vt.write_version(df, table, mode="append")
        except Exception as ex:  # surfaced after join; a raise here is lost
            errors.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    vs = vt.table_versions(table)
    assert [m["version"] for m in vs] == list(range(1, 14))  # 1 seed + 12
    rows = {(r.w, r.i) for r in vt.read_version(spark, table).collect()}
    assert rows == {(0, -1)} | {(w, i) for w in range(4) for i in range(3)}
    assert vs[-1]["n_rows"] == 13


def test_merge_version_rederives_after_concurrent_append(spark, out_dir, monkeypatch):
    """Review regression (lost update): merge_version is read-modify-write.
    If a rival append commits between the snapshot read and the overwrite
    commit, the stale merge must be thrown away and RE-DERIVED against the
    new latest — not published, which would silently drop the rival's rows."""
    import os

    from etl_lala_spark.operators import relational as rel
    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_conflict")
    vt.write_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), table
    )
    log = spark.createDataFrame(
        [(2, 1, "U", "b2")], "k int, seq int, op string, v string"
    ).select("k", "v", "seq", "op")

    real = rel.merge_changelog
    races = {"n": 0}

    def racy(base, changelog, key, **kw):
        out = real(base, changelog, key, **kw)
        if races["n"] == 0:  # first derivation: rival lands before commit
            races["n"] += 1
            vt.write_version(
                spark.createDataFrame([(9, "z")], "k int, v string"),
                table,
                mode="append",
            )
        return out

    monkeypatch.setattr(rel, "merge_changelog", racy)
    v = vt.merge_version(spark, table, log, key="k")
    assert v == 3  # seed, rival append, re-derived merge
    got = {(r.k, r.v) for r in vt.read_version(spark, table).collect()}
    assert got == {(1, "a"), (2, "b2"), (9, "z")}  # rival row NOT dropped


def test_write_version_expected_base_conflict_raises_and_cleans(spark, out_dir):
    """expected_base mismatch raises ConcurrentCommitError (no commit, no
    version consumed) and removes the staged parquet."""
    import glob
    import os

    import pytest as _pytest

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_base")
    vt.write_version(spark.createDataFrame([(1, "a")], "k int, v string"), table)
    df = spark.createDataFrame([(2, "b")], "k int, v string")
    with _pytest.raises(vt.ConcurrentCommitError, match="derived from v0"):
        vt.write_version(df, table, expected_base=0)
    assert [m["version"] for m in vt.table_versions(table)] == [1]
    assert glob.glob(f"{table}.staging.*") == []  # staging cleaned up
    # matching expected_base commits normally
    assert vt.write_version(df, table, expected_base=1) == 2


def test_stream_batch_watermark_survives_vacuum_compact_rollback(spark, out_dir):
    """Review regression (duplicate replay): the exactly-once guard reads
    max(stream_batch_id) over RETAINED manifests. Compaction, rollback, and
    vacuum must carry the high-water mark forward so retention can never
    erase it — otherwise a checkpoint-free restart re-applies old batches."""
    import os

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_hw")
    for b in range(3):  # three ingested micro-batches
        vt.write_version(
            spark.createDataFrame([(b, "x")], "k int, v string"),
            table,
            mode="append",
            extra={"stream_batch_id": b},
        )
    assert vt._stream_high_water(vt.table_versions(table)) == 2

    vt.compact_version(spark, table)  # non-ingest commits propagate it…
    assert vt.table_versions(table)[-1]["stream_batch_id"] == 2
    vt.rollback(table, 2)
    assert vt.table_versions(table)[-1]["stream_batch_id"] == 2
    vt.vacuum(table, keep_last=1)  # …so retention cannot erase it
    assert vt._stream_high_water(vt.table_versions(table)) == 2
    # and the watermark is monotone: a stale replayed id never lowers it
    vt.write_version(
        spark.createDataFrame([(9, "y")], "k int, v string"),
        table,
        mode="append",
        extra={"stream_batch_id": 1},
    )
    assert vt.table_versions(table)[-1]["stream_batch_id"] == 2


def test_vacuum_sweeps_unreferenced_orphan_dirs(spark, out_dir):
    """Review regression (disk leak): vacuum also deletes table-level d*
    dirs no retained manifest references once past the orphan grace window
    (crashed half-vacuums, orphaned claims whose id a rollback manifest
    later occupied). Fresh unreferenced dirs — possibly a live claim — stay."""
    import os
    import time

    from etl_lala_spark.sinks import versioned as vt

    table = os.path.join(out_dir, "vt_sweep")
    vt.write_version(spark.createDataFrame([(1, "a")], "k int, v string"), table)
    vt.write_version(
        spark.createDataFrame([(2, "b")], "k int, v string"), table, mode="append"
    )

    stale = os.path.join(table, "d000077")  # leaked by a crashed prior vacuum
    os.makedirs(stale)
    t0 = time.time() - 120
    os.utime(stale, (t0, t0))
    fresh = os.path.join(table, "d000078")  # a live writer's claim
    os.makedirs(fresh)

    removed = vt.vacuum(table, keep_last=2)
    assert "d000077" in removed and not os.path.exists(stale)
    assert os.path.isdir(fresh)  # grace window protects the live claim
    got = {r.k for r in vt.read_version(spark, table).collect()}
    assert got == {1, 2}


def test_replace_partition_atomic_reload_and_pruned_read(spark, out_dir):
    """The versioned-log replaceWhere: per-month commits tracked via
    partition_col; reloading one month carries every other month's
    directory over as pure metadata, a mixed-directory snapshot pays only
    its own residue rewrite, read_partition prunes at the manifest, and a
    bad reload is one rollback away."""
    import os

    from etl_lala_spark.sinks import versioned as vt

    t = os.path.join(out_dir, "vt_months")

    def month(m, v):
        return spark.createDataFrame(
            [(m, i, v) for i in range(3)], "month string, k int, val int"
        )

    vt.write_version(month("2025-01", 1), t, mode="overwrite", partition_col="month")
    vt.write_version(month("2025-02", 2), t, mode="append", partition_col="month")
    vt.write_version(month("2025-03", 3), t, mode="append", partition_col="month")
    m = vt.table_versions(t)[-1]
    assert m["parts"] == {
        "d000001": ["2025-01"], "d000002": ["2025-02"], "d000003": ["2025-03"]
    }
    assert m["dir_rows"] == {"d000001": 3, "d000002": 3, "d000003": 3}

    # reload feb: jan + mar dirs carried over untouched (pure metadata);
    # out-of-partition rows in the feed are dropped (replaceWhere contract)
    feed = month("2025-02", 99).unionByName(month("2025-07", 0))
    v4 = vt.replace_partition(spark, t, feed, ["2025-02"])
    m4 = vt.table_versions(t)[-1]
    assert m4["op"] == "replace:month=2025-02"
    assert "d000001" in m4["dirs"] and "d000003" in m4["dirs"]
    assert m4["n_rows"] == 9
    got = {(r.month, r.val) for r in vt.read_version(spark, t).collect()}
    assert got == {("2025-01", 1), ("2025-02", 99), ("2025-03", 3)}

    # pruned read resolves ONE directory from the manifest
    feb = vt.read_partition(spark, t, ["2025-02"])
    assert {r.val for r in feb.collect()} == {99}
    assert vt.read_partition(spark, t, ["2099-12"]).count() == 0

    # bad reload is one rollback away, tracking intact afterwards
    vt.replace_partition(spark, t, month("2025-02", -1), ["2025-02"])
    vt.rollback(t, v4)
    assert {r.val for r in vt.read_partition(spark, t, ["2025-02"]).collect()} == {99}
    assert vt.table_versions(t)[-1]["parts"] == m4["parts"]

    # mixed-directory snapshot (compaction collapses months into one dir):
    # replacing one month rewrites only that dir's residue
    vt.compact_version(spark, t)
    assert len(vt.table_versions(t)[-1]["dirs"]) == 1
    vt.replace_partition(spark, t, month("2025-03", 33), ["2025-03"])
    got = {(r.month, r.val) for r in vt.read_version(spark, t).collect()}
    assert got == {("2025-01", 1), ("2025-02", 99), ("2025-03", 33)}

    # untracked table refuses with a clear error
    t2 = os.path.join(out_dir, "vt_untracked")
    vt.write_version(month("2025-01", 1), t2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not partition-tracked"):
        vt.replace_partition(spark, t2, month("2025-01", 2), ["2025-01"])


def test_append_partition_col_mismatch_does_not_wedge_version(spark, out_dir):
    """A build-time commit error (append with the wrong partition_col) must
    return the claimed data-dir name instead of wedging that version id
    until the orphan-grace reclaim (round-5 advice): the very next commit
    attempt gets the same version id immediately."""
    import time as _time

    from etl_lala_spark.sinks import versioned as vt

    t = os.path.join(out_dir, "vt_wedge")
    df = spark.createDataFrame([("2025-01", 1), ("2025-02", 2)], "month string, val int")
    assert vt.write_version(df, t, partition_col="month") == 1

    with pytest.raises(ValueError, match="partition_col"):
        vt.write_version(df, t, mode="append", partition_col="val")

    # No orphaned claim left behind: d000002 must not exist as a directory
    # with no manifest, and an immediate retry commits v2 with no wait.
    t0 = _time.monotonic()
    assert vt.write_version(df, t, mode="append", partition_col="month") == 2
    assert _time.monotonic() - t0 < 5.0  # no orphan-grace stall
    assert vt.read_version(spark, t).count() == 4


def test_read_partition_missing_version_raises_value_error(spark, out_dir):
    """read_partition mirrors read_version's not-found guard: a vacuumed or
    never-committed version id raises an informative ValueError, not a bare
    KeyError (round-5 advice)."""
    from etl_lala_spark.sinks import versioned as vt

    t = os.path.join(out_dir, "vt_missing")
    df = spark.createDataFrame([("2025-01", 1)], "month string, val int")
    vt.write_version(df, t, partition_col="month")
    with pytest.raises(ValueError, match="version 7 not found"):
        vt.read_partition(spark, t, ["2025-01"], version=7)


def test_vacuum_concurrent_pinned_readers_property(spark, out_dir):
    """Vacuum vs concurrent pinned readers (round-5 verdict stretch): a
    reader plan pinned BEFORE a vacuum stays correct as long as its version
    is inside the retention window — vacuum may only delete directories no
    retained manifest references, so the pinned plans' files survive; a
    reader pinned OUTSIDE the window breaks by design (the documented
    retention contract), and the on-disk d* directories after vacuum are
    exactly the union of the retained manifests' dirs plus nothing."""
    from py4j.protocol import Py4JJavaError

    from etl_lala_spark.sinks import versioned as vt

    t = os.path.join(out_dir, "vt_vacuum_readers")

    def df(ks):
        return spark.createDataFrame([(k, f"v{k}") for k in ks], "k int, v string")

    v1 = vt.write_version(df([1, 2]), t, mode="overwrite")
    v2 = vt.write_version(df([3]), t, mode="append")
    v3 = vt.write_version(df([7, 8]), t, mode="overwrite")
    v4 = vt.write_version(df([9]), t, mode="append")

    # pin plans BEFORE the vacuum — plans reference manifest-resolved paths
    pin_old = vt.read_version(spark, t, version=v2)     # will be vacuumed
    pin_recent = vt.read_version(spark, t, version=v3)  # retained
    pin_latest = vt.read_version(spark, t, version=v4)  # retained
    assert {r.k for r in pin_old.collect()} == {1, 2, 3}

    removed = vt.vacuum(t, keep_last=2)  # retain v3, v4 only
    assert removed == ["d000001", "d000002"]  # v1/v2's dirs: unreferenced

    # property 1: retained pinned readers are unaffected, mid-"read" or not
    assert {r.k for r in pin_recent.collect()} == {7, 8}
    assert {r.k for r in pin_latest.collect()} == {7, 8, 9}

    # property 2: the vacuumed pin breaks loudly (files gone), never
    # silently returns partial rows
    with pytest.raises(Py4JJavaError):
        pin_old.collect()

    # property 3: on-disk d* dirs == union of retained manifests' dirs
    retained = {d for m in vt.table_versions(t) for d in m["dirs"]}
    on_disk = {n for n in os.listdir(t) if n.startswith("d") and n[1:].isdigit()}
    assert on_disk == retained

    # property 4: re-pinning the vacuumed version now fails with the
    # informative error (read_version's guard), and vacuum is idempotent
    with pytest.raises(ValueError, match="may have been vacuumed"):
        vt.read_version(spark, t, version=v2)
    assert vt.vacuum(t, keep_last=2) == []
    assert {r.k for r in vt.read_version(spark, t).collect()} == {7, 8, 9}
    assert v1 == 1  # version ids are stable history


def test_versioned_partition_col_mismatch_refused(spark, out_dir):
    """A partition_col that disagrees with the table's tracked column must
    raise, not silently append duplicates (replace) or return empty
    (read)."""
    from etl_lala_spark.sinks import versioned as V

    t = os.path.join(out_dir, "pmismatch")
    df = spark.createDataFrame(
        [(1, "a", "SP"), (2, "b", "RJ")], "k long, v string, uf string"
    )
    V.write_version(df, t, partition_col="uf")
    with pytest.raises(ValueError, match="tracked"):
        V.replace_partition(spark, t, df, ["a"], partition_col="v")
    with pytest.raises(ValueError, match="tracked"):
        V.read_partition(spark, t, ["a"], partition_col="v")
    # matching / defaulted column still works
    assert V.read_partition(spark, t, ["SP"]).count() == 1


def test_versioned_manifest_order_numeric_past_padding(spark, out_dir):
    """Manifest ordering must be numeric: a 7-digit version id sorts after
    999999, not before it lexicographically."""
    from etl_lala_spark.sinks import versioned as V

    t = os.path.join(out_dir, "numorder")
    df = spark.createDataFrame([(1,)], "k long")
    V.write_version(df, t)
    # forge a v999999 and a v1000000 manifest directly (metadata-only)
    for v in (999999, 1000000):
        m = dict(V.table_versions(t)[-1])
        m["version"] = v
        V._commit(t, m)
    assert V.latest_version(t) == 1000000
    assert [m["version"] for m in V.table_versions(t)][-2:] == [999999, 1000000]


def test_versioned_rollback_refuses_vacuumed_target(spark, out_dir):
    """rollback must refuse a target whose data dirs were vacuumed instead
    of committing a latest that points at deleted data."""
    from etl_lala_spark.sinks import versioned as V

    t = os.path.join(out_dir, "rbvac")
    df1 = spark.createDataFrame([(1,)], "k long")
    df2 = spark.createDataFrame([(2,)], "k long")
    v1 = V.write_version(df1, t)
    V.write_version(df2, t)
    V.write_version(df2, t)
    V.vacuum(t, keep_last=1)  # expires v1, deletes its dir
    with pytest.raises(ValueError, match="vacuum"):
        V.rollback(t, v1)


def test_versioned_extra_cannot_forge_partition_tracking(spark, out_dir):
    """Reserved manifest keys must win over `extra` on every commit shape:
    forged parts/partition_col in extra must not make an untracked table
    look tracked."""
    from etl_lala_spark.sinks import versioned as V

    t = os.path.join(out_dir, "extraforge")
    df = spark.createDataFrame([(1, "SP")], "k long, uf string")
    V.write_version(
        df, t,
        extra={"partition_col": "uf", "parts": {"d000001": ["XX"]}, "note": "ok"},
    )
    m = V.table_versions(t)[-1]
    assert "partition_col" not in m and "parts" not in m
    assert m["note"] == "ok"
    with pytest.raises(ValueError, match="not partition-tracked"):
        V.read_partition(spark, t, ["SP"])


def test_versioned_vacuum_sweeps_leaked_staging(spark, out_dir):
    """An ancient beside-table staging dir (crashed writer) is reclaimed by
    vacuum; a fresh one is left alone."""
    from etl_lala_spark.sinks import versioned as V

    t = os.path.join(out_dir, "stagingleak")
    V.write_version(spark.createDataFrame([(1,)], "k long"), t)
    old = f"{t}.staging.99999.0"
    new = f"{t}.staging.99999.1"
    for p in (old, new):
        os.makedirs(p)
    past = time.time() - V._STAGING_GRACE_S - 10
    os.utime(old, (past, past))
    removed = V.vacuum(t, keep_last=5)
    assert os.path.basename(old) in removed
    assert not os.path.isdir(old) and os.path.isdir(new)


def test_versioned_concurrent_vacuum_idempotent(spark, out_dir):
    """A vacuum whose expired manifests/dirs were already deleted by a
    rival must complete instead of crashing."""
    from etl_lala_spark.sinks import versioned as V

    t = os.path.join(out_dir, "vacrace")
    df = spark.createDataFrame([(1,)], "k long")
    for _ in range(4):
        V.write_version(df, t)
    # simulate the rival: delete one expired manifest + its dir first
    vs = V.table_versions(t)
    victim = vs[0]
    os.remove(V._manifest_path(t, victim["version"]))
    for d in victim["dirs"]:
        shutil.rmtree(os.path.join(t, d), ignore_errors=True)
    V.vacuum(t, keep_last=1)  # must not raise
    assert V.latest_version(t) == vs[-1]["version"]


def test_jdbc_probe_failure_classification(spark, monkeypatch):
    """Only a missing-table probe error maps to 'first load'; any other
    failure must propagate rather than defeat the skip list and duplicate
    the batch."""
    calls = {}

    def probe_raises(msg):
        def rd(*a, **k):
            raise RuntimeError(msg)
        return rd

    real = writer._jdbc_existing_partitions
    class FakeReader:
        def __init__(self, msg): self.msg = msg
        def jdbc(self, **k): raise RuntimeError(self.msg)
    class FakeSpark:
        def __init__(self, msg): self.read = FakeReader(msg)

    keys, exists = real(FakeSpark('relation "t" does not exist'), "u", "t", "c", None)
    assert keys == [] and exists is False
    with pytest.raises(RuntimeError, match="connection refused"):
        real(FakeSpark("connection refused"), "u", "t", "c", None)


def test_load_incremental_empty_first_batch_not_created(spark, out_dir):
    """An empty first load writes nothing and must not claim the table was
    created."""
    t = os.path.join(out_dir, "emptyfirst")
    empty = spark.createDataFrame([], "competencia string, v long")
    r = writer.load_incremental(spark, empty, t)
    assert r["registros_inseridos"] == 0
    assert r["tabela"]["criada_agora"] is False
    assert not os.path.isdir(t)


def test_stream_scd2_multiple_updates_one_key_single_current(spark, out_dir):
    """Two updates for one key in ONE batch must yield exactly one open
    (is_current) row — the latest by effective stamp — not duplicated
    history."""
    import pandas as pd

    t = os.path.join(out_dir, "scd2multi")
    src_dir = os.path.join(out_dir, "scd2multi_src")
    cp = os.path.join(out_dir, "scd2multi_cp")
    os.makedirs(src_dir)
    pd.DataFrame(
        {
            "k": [1, 1, 2],
            "attr": ["a0", "a1", "b0"],
            "effective_batch": [10, 11, 10],
        }
    ).to_parquet(os.path.join(src_dir, "u.parquet"))
    stream = (
        spark.readStream.schema("k long, attr string, effective_batch long")
        .parquet(src_dir)
    )
    q = writer.stream_scd2(stream, t, key="k", tracked=["attr"], checkpoint=cp)
    q.awaitTermination(120)
    rows = spark.read.parquet(t).collect()
    cur = [r for r in rows if r["is_current"]]
    assert sorted((r["k"], r["attr"]) for r in cur) == [(1, "a1"), (2, "b0")]
    assert len(cur) == 2


def test_stream_scd2_recovers_interrupted_swap(spark, out_dir):
    """If a crash left the table renamed to the backup but not replaced,
    the next batch restores it instead of restarting history."""
    import pandas as pd

    t = os.path.join(out_dir, "scd2swap")
    src_dir = os.path.join(out_dir, "scd2swap_src")
    os.makedirs(src_dir)
    pd.DataFrame(
        {"k": [1], "attr": ["a0"], "effective_batch": [1]}
    ).to_parquet(os.path.join(src_dir, "u1.parquet"))
    stream = (
        spark.readStream.schema("k long, attr string, effective_batch long")
        .parquet(src_dir)
    )
    q = writer.stream_scd2(stream, t, key="k", tracked=["attr"],
                           checkpoint=os.path.join(out_dir, "scd2swap_cp1"))
    q.awaitTermination(120)
    # simulate the crash window: table parked at backup, table name missing
    os.rename(t, t + "._scd2prev")
    pd.DataFrame(
        {"k": [1], "attr": ["a1"], "effective_batch": [2]}
    ).to_parquet(os.path.join(src_dir, "u2.parquet"))
    q2 = writer.stream_scd2(stream, t, key="k", tracked=["attr"],
                            checkpoint=os.path.join(out_dir, "scd2swap_cp2"))
    q2.awaitTermination(120)
    rows = spark.read.parquet(t).collect()
    # history preserved: a0 closed, a1 open
    assert sorted((r["attr"], r["is_current"]) for r in rows) == [
        ("a0", False), ("a1", True)
    ]


def test_dataset_card_empty_corpus(spark, out_dir):
    """A zero-row corpus yields a zero card, not a TypeError."""
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    card = writer.write_dataset_card(docs, os.path.join(out_dir, "card0"))
    assert card["n_docs"] == 0 and card["total_ws_tokens"] == 0
    assert card["char_length"]["p50"] is None
