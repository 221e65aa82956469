"""Structured Streaming tests: custom stateful progress operator, tagged
NDJSON stream, checkpointed recovery and the streaming sinks (reference
§2.9)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_lala_spark.io import load_events
from etl_lala_spark.streaming import stateful

TMP = os.path.join(os.path.dirname(__file__), ".tmp", "stream")


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir):
    """Events as a µs-timestamp parquet dir (streaming file source)."""
    shutil.rmtree(TMP, ignore_errors=True)
    path = os.path.join(TMP, "events")
    load_events(spark, sf_dir).write.mode("overwrite").parquet(path)
    return path


def test_stateful_progress_operator(spark, event_dir):
    stream = spark.readStream.schema(spark.read.parquet(event_dir).schema).parquet(
        event_dir
    )
    got = stateful.run_to_memory(stateful.attach_progress(stream), "t_progress")
    rows = got.collect()
    assert len(rows) > 0
    # one row per crossed stride per user; totals are monotone per user
    by_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["emitted"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for user_rows in by_user.values():
        strides = [r["emitted"] for r in user_rows]
        assert strides == sorted(set(strides)), "strides must be unique & increasing"
        assert user_rows[-1]["total_events"] >= strides[-1] * 50


def test_tagged_ndjson_streaming(spark):
    from etl_lala_spark.sources import ndjson

    ndir = os.path.join(TMP, "ndjson_stream")
    shutil.rmtree(ndir, ignore_errors=True)
    os.makedirs(ndir)
    with open(os.path.join(ndir, "chunk1.ndjson"), "w") as fh:
        fh.write(
            "\n".join(
                json.dumps(x)
                for x in [
                    {"tipo": "metadados", "arquivo": "F1", "total_colunas": 1, "colunas": ["A"]},
                    {"tipo": "registro", "dados": {"A": "1"}},
                    {"tipo": "registro", "dados": {"A": "2"}},
                ]
            )
        )
    meta, recs = ndjson.read_tagged_ndjson(spark, ndir, record_fields=["A"], streaming=True)
    out = stateful.run_to_memory(recs, "t_ndjson")
    assert sorted(r["A"] for r in out.collect()) == ["1", "2"]


def test_stream_static_enrichment_matches_batch(spark, sf_dir, event_dir):
    """Stream-static broadcast join: the streaming micro-batch form of
    events_user_enrichment must agree with its batch twin."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.plans import query_fns

    c = load_table(spark, sf_dir, "customer")
    stream = spark.readStream.schema(spark.read.parquet(event_dir).schema).parquet(
        event_dir
    )
    # streaming forbids exact distinct aggregates — the live form carries the
    # supported columns; the batch twin's n_users is checked by its oracle.
    enriched = (
        stream.join(F.broadcast(c), stream.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )
    got = {
        tuple(r)
        for r in stateful.run_to_memory(enriched, "enrich_test", output_mode="complete")
        .orderBy("c_mktsegment", "event_type")
        .collect()
    }
    want = {
        (r["c_mktsegment"], r["event_type"], r["n_events"], r["value_sum"])
        for r in query_fns()["events_user_enrichment"](spark, sf_dir).collect()
    }
    assert got == want


def test_checkpoint_recovery_no_double_count(spark, sf_dir, tmp_path):
    """T6 at-least-once + checkpointed recovery: a restarted query resumes
    from the checkpoint — already-processed files are not re-counted, new
    files are picked up exactly once."""
    from etl_lala_spark.io import load_events

    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load_events(spark, sf_dir)
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()
    # restart with no new data: nothing re-processed
    run_once()
    assert spark.read.parquet(out).count() == n1
    # append the second half, restart: picked up exactly once
    half2.write.mode("append").parquet(src)
    run_once()
    assert spark.read.parquet(out).count() == ev.count()


def test_stream_scd2_merges_batches_and_replay_is_noop(spark, tmp_path):
    """Streaming SCD2: sequential update batches build version history;
    replaying a batch (at-least-once upstream) leaves the table unchanged."""
    from etl_lala_spark.sinks import writer as w

    table = str(tmp_path / "dim")

    def run(src_dir: str) -> None:
        df = spark.read.parquet(src_dir)
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        q = w.stream_scd2(stream, table, key="k", tracked=["seg"])
        q.awaitTermination(120)
        q.stop()

    b1 = spark.createDataFrame(
        [(1, "A", 1), (2, "B", 1)], "k long, seg string, effective_batch long"
    )
    src1 = str(tmp_path / "src1")
    b1.write.parquet(src1)
    run(src1)
    assert spark.read.parquet(table).count() == 2

    b2 = spark.createDataFrame(
        [(1, "A2", 2), (2, "B", 2), (3, "C", 2)],
        "k long, seg string, effective_batch long",
    )
    src2 = str(tmp_path / "src2")
    b2.write.parquet(src2)
    run(src2)
    rows = {(r.k, r.valid_from): r for r in spark.read.parquet(table).collect()}
    assert len(rows) == 4
    assert rows[(1, 1)].valid_to == 2 and rows[(1, 1)].is_current is False
    assert rows[(1, 2)].seg == "A2" and rows[(1, 2)].is_current is True
    assert rows[(2, 1)].is_current is True  # no-op update passed through
    assert rows[(3, 2)].seg == "C"

    run(src2)  # replay: same files again, no checkpoint
    again = {(r.k, r.valid_from): (r.valid_to, r.is_current, r.seg)
             for r in spark.read.parquet(table).collect()}
    assert again == {kf: (r.valid_to, r.is_current, r.seg) for kf, r in rows.items()}


def test_stream_versioned_append_exactly_once(spark, tmp_path):
    """Streaming ingest into the versioned transaction log: each
    micro-batch is one atomic append commit whose manifest carries the
    batch id, so replays (at-least-once upstream) commit nothing and every
    batch is a time-travelable snapshot."""
    from etl_lala_spark.sinks import versioned as vt

    table = str(tmp_path / "vt_stream")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string"

    def run(checkpoint):
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = vt.stream_versioned_append(stream, table, checkpoint=checkpoint)
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.mode(
        "append"
    ).parquet(str(src))
    run(ckpt)
    assert vt.table_versions(table)[-1]["version"] == 1
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2}

    # second availableNow run with the SHARED checkpoint: only new files
    # land, as the next batch id, as one more append commit
    spark.createDataFrame([(3, "c")], schema).write.mode("append").parquet(
        str(src)
    )
    run(ckpt)
    vs = vt.table_versions(table)
    assert [m["version"] for m in vs] == [1, 2]
    assert vs[-1]["stream_batch_id"] == 1
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2, 3}
    # time travel: the pre-batch-2 snapshot is intact
    assert {r.k for r in vt.read_version(spark, table, version=1).collect()} == {1, 2}

    # replay: a FRESH run with no checkpoint re-delivers everything as
    # batch 0 — already-applied per the manifests, so nothing commits
    run(None)
    assert [m["version"] for m in vt.table_versions(table)] == [1, 2]
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2, 3}


def test_stream_url_frontier_self_heals_stale_bloom(spark, tmp_path):
    """The frontier's Bloom bitmap is a cache with a validity check: when a
    crash lands between store append and bitmap refresh (simulated by
    appending to the store behind the bitmap's back), the next batch must
    fall back to the exact path — the behind-the-back URL is NOT
    re-appended, novel URLs still land, and the bitmap meta is rebuilt to
    the new store count."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_lala_spark.operators.web import stream_url_frontier

    src = os.path.join(str(tmp_path), "src")
    store = os.path.join(str(tmp_path), "store")
    os.makedirs(src)

    def run_batch(name, urls):
        spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 16)
            .parquet(os.path.join(src, name))
        )
        q = stream_url_frontier(stream, store, n_bits=1024)
        q.awaitTermination(120)
        q.stop()

    run_batch("b0", ["http://a/x", "HTTP://A/y", "not a url"])
    rows0 = {r["url"] for r in spark.read.parquet(store).collect()}
    assert rows0 == {"http://a/x", "http://a/y"}  # canonicalized, no junk
    meta_path = store + "._bloom.json"
    meta = json.load(open(meta_path))
    assert meta["store_rows"] == 2

    # crash window: a URL lands in the store while the bitmap stays stale
    spark.createDataFrame(
        [("http://a/ghost", 99)], "url string, batch_id int"
    ).write.mode("append").parquet(store)
    assert json.load(open(meta_path))["store_rows"] == 2  # now stale

    run_batch("b1", ["http://a/ghost", "http://a/x", "http://a/new"])
    out = spark.read.parquet(store)
    by_url = {
        r["url"]: r["cnt"]
        for r in out.groupBy("url")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # ghost not duplicated (exact fallback), replay not duplicated,
    # novel appended exactly once
    assert by_url == {
        "http://a/x": 1,
        "http://a/y": 1,
        "http://a/ghost": 1,
        "http://a/new": 1,
    }
    assert json.load(open(meta_path))["store_rows"] == 4  # rebuilt


def test_stream_url_frontier_sketch_self_heals(spark, tmp_path):
    """Same self-heal contract on the DURABLE-sketch cache backend
    (sketch_store=): a URL landing in the store behind the sketch's back
    (crash between append and merge) makes the count stamp stale, so the
    next batch takes the exact path — nothing re-appended, novel rows
    land once, and the sketch is rebuilt to the new store count."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_lala_spark.operators import web

    src = os.path.join(str(tmp_path), "src")
    store = os.path.join(str(tmp_path), "store")
    sketch = os.path.join(str(tmp_path), "sketch")
    os.makedirs(src)
    os.makedirs(sketch)

    def run_batch(name, urls, n_bits=1 << 18):
        spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 16)
            .parquet(os.path.join(src, name))
        )
        q = web.stream_url_frontier(
            stream, store, n_bits=n_bits, sketch_store=sketch
        )
        q.awaitTermination(120)
        q.stop()

    run_batch("b0", ["http://a/x", "HTTP://A/y", "not a url"])
    assert {r["url"] for r in spark.read.parquet(store).collect()} == {
        "http://a/x",
        "http://a/y",
    }
    meta_path = os.path.join(sketch, web._BLOOM_SKETCH_META)
    assert json.load(open(meta_path))["store_rows"] == 2

    spark.createDataFrame(
        [("http://a/ghost", 99)], "url string, batch_id int"
    ).write.mode("append").parquet(store)  # behind the sketch's back

    # the rebuild must honor the sketch's PINNED n_bits even when the
    # stream is (mis)started with a different one — re-keying an existing
    # sketch at a smaller size would silently saturate it
    run_batch(
        "b1", ["http://a/ghost", "http://a/x", "http://a/new"], n_bits=4096
    )
    assert json.load(open(meta_path))["n_bits"] == 1 << 18
    by_url = {
        r["url"]: r["cnt"]
        for r in spark.read.parquet(store)
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert by_url == {
        "http://a/x": 1,
        "http://a/y": 1,
        "http://a/ghost": 1,
        "http://a/new": 1,
    }
    assert json.load(open(meta_path))["store_rows"] == 4  # rebuilt

    # valid-cache incremental leg: merge path, count stamp advances
    run_batch("b2", ["http://a/x", "http://a/z"])
    assert json.load(open(meta_path))["store_rows"] == 5
    assert (
        spark.read.parquet(store).filter(F.col("url") == "http://a/z").count()
        == 1
    )


def test_stream_url_frontier_empty_first_batch(spark, tmp_path):
    """A first micro-batch with no valid URLs must not crash the query (no
    store to describe yet); the next batch then seeds the store."""
    import os

    from etl_lala_spark.operators.web import stream_url_frontier

    src = os.path.join(str(tmp_path), "src")
    store = os.path.join(str(tmp_path), "store")
    os.makedirs(src)

    def run_batch(name, urls):
        spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 16)
            .parquet(os.path.join(src, name))
        )
        q = stream_url_frontier(stream, store, n_bits=1024)
        q.awaitTermination(120)
        q.stop()

    run_batch("b0", ["not a url", "also not one"])
    assert not os.path.isdir(store)
    run_batch("b1", ["http://a/x"])
    assert {r["url"] for r in spark.read.parquet(store).collect()} == {
        "http://a/x"
    }


def test_stream_cdx_latest_replay_safe(spark, tmp_path):
    """An at-least-once redelivery (same batch winners appended twice under
    one batch_id) changes neither the resolved winners nor n_versions."""
    from pyspark.sql import functions as F

    from etl_lala_spark.operators.web import cdx_latest_resolve

    store = str(tmp_path / "store")
    rows = [
        ("k1", 10, "u1", "text/html", 200, "d1", 5, 0, "f", 0),
        ("k1", 20, "u1b", "text/html", 200, "d2", 5, 1, "f", 1),
        ("k2", 30, "u2", "text/html", 200, "d3", 5, 2, "f", 0),
    ]
    schema = ("surt string, ts long, url string, mime string, status int,"
              " digest string, length long, offset long, filename string,"
              " batch_id long")
    df = spark.createDataFrame(rows, schema)
    df.write.mode("append").parquet(store)
    base = {(r["surt"], r["ts"], r["n_versions"])
            for r in cdx_latest_resolve(spark, store).collect()}
    assert base == {("k1", 20, 2), ("k2", 30, 1)}
    # redeliver batch 0's rows verbatim
    df.filter(F.col("batch_id") == 0).write.mode("append").parquet(store)
    replay = {(r["surt"], r["ts"], r["n_versions"])
              for r in cdx_latest_resolve(spark, store).collect()}
    assert replay == base
