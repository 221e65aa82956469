"""Driver gates for the sink/source lifecycle components that were
pytest-only through round 5 (round-5 verdict #3): archive expansion (S6),
the JSON sink + `_indice` run manifest (S12), keep-N run retention (S13),
limit pushdown into the DBC decoder (S9/O1), PERMISSIVE tagged-NDJSON
error records (R5), and — since round 7 — the executor-side HTTP fetch
(S5) driven against a real loopback HTTP server.

Pattern (proved out by the round-5 multimodal gates): fixtures are built
IN-CLUSTER from the deterministic test tables (zip bytes assembled in
mapInPandas, DBF/DBC rendered from ordered lineitem rows), flow through the
REAL operator under test, and reduce to integer/string aggregates a DuckDB
oracle replays in closed form — so a packaging, manifest, retention-order,
or decoder-limit bug lands on a different hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.io import load_table, map_rows
from etl_lala_spark.plans import register

_ARCHIVE_ORACLE = """
WITH m AS (
  SELECT d.doc_id, i.i
  FROM (SELECT doc_id FROM documents WHERE doc_id < 120) d, range(0, 3) i(i)
  WHERE i.i <= d.doc_id % 3
),
c AS (
  SELECT doc_id, i,
         repeat('doc' || doc_id || ':member' || i || ';',
                CAST(i % 2 + 1 AS INT)) AS content
  FROM m
)
SELECT 'mem://arc' || doc_id || '.zip' AS archive,
       'm' || i || (CASE WHEN i % 2 = 0 THEN '.DBC' ELSE '.dbc' END)
         AS member_basename,
       CAST(strlen(content) AS BIGINT) AS n_bytes,
       md5(content) AS digest
FROM c
ORDER BY archive, member_basename
"""


@register("archive_expand_members", oracle=_ARCHIVE_ORACLE)
def archive_expand_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 archive expansion under the correctness gate: per document a REAL
    ZIP (stored entries, a directory entry, and a decoy ``notes.txt``) is
    assembled in-cluster holding (doc_id % 3) + 1 ``.dbc``/``.DBC`` members
    with closed-form contents, expanded by the real one-to-many
    ``extract_archive_members`` kernel (suffix filter is lowercase-endswith,
    the reference's P2 — src/datasus/datasus.service.ts:398-401), and
    reduced to per-member size + md5. The oracle replays the member fan-out
    and contents from SQL ranges: a zip-walk, suffix-case, directory-skip,
    or content-corruption bug all change the hash.

    Scale: one JVM UDF call per archive, one-to-many expansion inside the
    task — the 100 TB shape (S7 spilling is the memory manager's job)."""
    import zipfile
    from io import BytesIO

    from etl_lala_spark.sources.archive import extract_archive_members

    def render(d: int) -> list[tuple]:
        buf = BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            zf.writestr(f"d{d}/", b"")  # directory entry: skipped
            zf.writestr(f"d{d}/notes.txt", b"decoy")  # suffix-filtered
            for i in range(d % 3 + 1):
                ext = ".DBC" if i % 2 == 0 else ".dbc"
                body = (f"doc{d}:member{i};" * (i % 2 + 1)).encode()
                zf.writestr(f"d{d}/m{i}{ext}", body)
        return [(f"mem://arc{d}.zip", buf.getvalue())]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    archives = map_rows(docs.select("doc_id"), render, "path string, content binary")
    members = extract_archive_members(archives, suffix=".dbc")
    return members.select(
        F.col("archive"),
        F.col("member_basename"),
        F.col("n_bytes"),
        F.md5("content").alias("digest"),
    ).orderBy("archive", "member_basename")


_JSON_MANIFEST_ORACLE = """
WITH a AS (
  SELECT o_orderpriority, count(*) AS n_orders,
         CAST(sum(o_orderkey) AS BIGINT) AS sum_key
  FROM orders GROUP BY 1
)
SELECT o_orderpriority, n_orders, sum_key,
       CAST((SELECT count(*) FROM a) AS BIGINT) AS total_registros,
       CAST(3 AS INT) AS total_colunas
FROM a
ORDER BY o_orderpriority
"""


@register("sink_json_manifest", oracle=_JSON_MANIFEST_ORACLE)
def sink_json_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 JSON sink + run manifest under the correctness gate: the
    per-priority orders rollup is written through the REAL
    ``write_json_with_manifest`` sink (single pass — the count comes from
    ``observe``, no second scan; `_indice.json` beside the data, the
    reference's ESTRUTURA_DADOS_PROCESSADOS.md:33-73 layout), then the
    returned plan READS THE JSON FILES BACK off disk and joins the manifest
    totals alongside — so a serialization, observe-count, or manifest bug
    breaks the hash against an oracle computed straight from orders.

    Scale: the sink is one distributed write; the manifest is driver-side
    metadata (constant size)."""
    import json

    from etl_lala_spark.plans._gates import gate_workdir
    from etl_lala_spark.sinks.writer import write_json_with_manifest

    work = gate_workdir(spark, "sink_json_manifest")
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_orderkey").alias("sum_key"),
        )
    )
    write_json_with_manifest(agg, work, "orders_by_priority")
    with open(os.path.join(work, "_indice.json")) as fh:
        manifest = json.load(fh)

    readback = spark.read.schema(
        "o_orderpriority string, n_orders long, sum_key long"
    ).json(os.path.join(work, "orders_by_priority"))
    totals = spark.createDataFrame(
        [(int(manifest["total_registros"]), int(manifest["total_colunas"]))],
        "total_registros long, total_colunas int",
    )
    return (
        readback.crossJoin(F.broadcast(totals))
        .select(
            "o_orderpriority", "n_orders", "sum_key",
            "total_registros", "total_colunas",
        )
        .orderBy("o_orderpriority")
    )


_RETENTION_ORACLE = """
WITH a AS (
  SELECT 'execucao-202501' || lpad(CAST(i AS VARCHAR), 2, '0') AS run,
         count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
  FROM range(5, 9) t(i) JOIN orders ON o_orderkey % 9 = i
  GROUP BY 1
)
SELECT run, n, sum_key, CAST(5 AS INT) AS n_deleted
FROM a
ORDER BY run
"""


@register("sink_retention_runs", oracle=_RETENTION_ORACLE)
def sink_retention_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 keep-N run retention under the correctness gate: nine
    ``execucao-*`` run directories are written (run i holds the orders with
    o_orderkey % 9 = i) with strictly increasing mtimes, the REAL
    ``retain_latest_runs(keep=4)`` sweep deletes the five oldest (the
    reference ops runbook's `ls -t | tail -n +6 | xargs rm -rf`,
    ESTRUTURA_DADOS_PROCESSADOS.md:236-239), and the returned plan reads
    the SURVIVORS back off disk — so a retention-order bug (deleting the
    newest, keeping the wrong count) changes which run names and row
    counts reach the oracle.

    Scale: retention is driver-side directory metadata; the data reads are
    ordinary distributed scans of what survived."""
    from etl_lala_spark.plans._gates import gate_workdir
    from etl_lala_spark.sinks.writer import retain_latest_runs

    import shutil

    work = gate_workdir(spark, "sink_retention_runs")
    base = os.path.join(work, "runs")
    staging = os.path.join(work, "staging")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    # ONE partitioned write fans the nine runs out (vs nine filtered scans
    # of orders — the single-pass shape a real run-archival job uses), then
    # the partition dirs become the mtime-laddered execucao-* run dirs.
    from etl_lala_spark.plans._gates import fixture_region

    with fixture_region("sink_retention_runs"):
        (
            orders.withColumn("b", F.col("o_orderkey") % 9)
            .write.mode("overwrite")
            .partitionBy("b")
            .json(staging)
        )
        t0 = 1_700_000_000  # deterministic mtime ladder: run i is i s newer
        os.makedirs(base, exist_ok=True)
        for i in range(9):
            run = os.path.join(base, f"execucao-202501{i:02d}")
            shutil.rmtree(run, ignore_errors=True)
            os.rename(os.path.join(staging, f"b={i}"), run)
            os.utime(run, (t0 + i, t0 + i))
    deleted = retain_latest_runs(base, keep=4)

    survivors = sorted(os.listdir(base))
    reads = [
        spark.read.schema("o_orderkey long")
        .json(os.path.join(base, name))
        .withColumn("run", F.lit(name))
        for name in survivors
    ]
    out = reads[0]
    for r in reads[1:]:
        out = out.unionByName(r)
    return (
        out.groupBy("run")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
        )
        .withColumn("n_deleted", F.lit(len(deleted)).cast("int"))
        .orderBy("run")
    )


_LIMIT_PUSHDOWN_ORACLE = """
WITH base AS (
  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
         CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(14,2)) AS VARCHAR) AS v
  FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 150)
),
f AS (
  SELECT CASE WHEN rn < 120 THEN 'PAPE2501' ELSE 'PAPE2502' END
           AS arquivo_origem,
         CASE WHEN rn < 120 THEN rn ELSE rn - 120 END AS pos, v
  FROM base
)
SELECT arquivo_origem, count(*) AS n,
       round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
FROM f
WHERE pos < 50
GROUP BY 1
ORDER BY 1
"""


@register("dbc_limit_pushdown", oracle=_LIMIT_PUSHDOWN_ORACLE)
def dbc_limit_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/O1 limit pushdown INTO the DBC decoder under the correctness
    gate: two ``.dbc`` fixtures are rendered from 150 ordered lineitem rows
    (120 + 30 records), decoded with ``limit=50`` — the decoder stops after
    its first 50 records PER FILE instead of decoding everything and
    letting Spark discard rows (reference S9: the converter honors a row
    cap, src/datasus/datasus.service.ts:30-33) — and the per-file count +
    value sum must equal the oracle's replay over the same row-number
    windows: 50 rows from the big file, all 30 from the small one. A
    decoder that ignores the limit, applies it globally, or decodes out of
    order lands on a different hash. (The plan-level assertion that the
    limit never reaches Spark as a post-decode filter is pytest's —
    tests/test_sources.py.)

    Scale: the limit bounds per-task decode CPU and output rows at the
    source — the difference between sampling a 100 TB archive collection
    and decoding it."""
    from etl_lala_spark.plans._gates import fixture_region
    from etl_lala_spark.plans.datasus import render_dbc_fixtures
    from etl_lala_spark.sources.dbc import read_dbc

    # Session-scoped gate workdir like the sibling gates (shared builder in
    # plans/datasus.py); the fixture build (bounded 150-row collect + DBC
    # render) is accounted under fixture_region so the bench times the
    # decoder, not the render.
    with fixture_region("dbc_limit_pushdown"):
        fixture_dir = render_dbc_fixtures(
            spark, sf_dir, "dbc_limit_pushdown",
            ["AP_VL_TOTAL"],
            [("PAPE2501", 0, 120), ("PAPE2502", 120, 150)], n_rows=150,
        )

    members = (
        spark.read.format("binaryFile")
        .load(fixture_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("member_basename"),
            "content",
        )
    )
    records = read_dbc(members, limit=50)
    return (
        records.groupBy("arquivo_origem")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("AP_VL_TOTAL").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total"),
        )
        .orderBy("arquivo_origem")
    )


_NDJSON_ERRORS_ORACLE = """
WITH k AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 600),
cat AS (
  SELECT CASE k % 7 WHEN 0 THEN 'malformed_json' WHEN 1 THEN 'unknown_tipo'
              WHEN 2 THEN 'metadados' ELSE 'registro' END AS category,
         CASE WHEN k % 7 NOT IN (0, 1, 2) THEN k ELSE 0 END AS v,
         CASE WHEN k % 7 = 2 THEN 2 ELSE 0 END AS m
  FROM k
)
SELECT category, count(*) AS n,
       CAST(sum(v + m) AS BIGINT) AS sum_val
FROM cat GROUP BY 1 ORDER BY 1
"""


@register("ndjson_error_records", oracle=_NDJSON_ERRORS_ORACLE)
def ndjson_error_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 structured error payloads under the correctness gate: a tagged
    NDJSON fixture is rendered IN-CLUSTER from orders (pure codegen string
    build, no UDF) with four deterministic line shapes — well-formed
    records, metadata envelopes, unknown-``tipo`` envelopes, and
    unparseable JSON — written as text, then read back through BOTH sides
    of the PERMISSIVE contract: ``read_tagged_ndjson`` (the good-path
    union: record payload projection + metadata) and
    ``tagged_ndjson_errors`` (the badRecordsPath-style structured error
    stream, reference src/datasus/datasus.service.ts:366-387). The
    per-category counts and payload sums must match the oracle's replay of
    the line classifier — a parser that drops good rows, fails the job on
    a bad line, misclassifies an unknown tag, or mangles the ``dados``
    projection changes a number.

    Scale: the reader is spark.read.text + from_json (distributed,
    PERMISSIVE never throws). This gate drives the two PUBLIC entry points
    separately, so the text fixture is scanned once per returned branch
    (scan budget 3); a production pipeline wanting one pass would parse
    once and derive records/metadata/errors from the cached parse — the
    classifier is a pure filter either way."""
    from etl_lala_spark.plans._gates import gate_workdir
    from etl_lala_spark.sources.ndjson import read_tagged_ndjson, tagged_ndjson_errors

    work = os.path.join(gate_workdir(spark, "ndjson_error_records"), "feed")
    k = F.col("o_orderkey")
    line = (
        F.when(k % 7 == 0, F.lit('{"tipo":"registro" "dados":'))
        .when(k % 7 == 1, F.concat(F.lit('{"tipo":"resumo","arquivo":"f'), k, F.lit('"}')))
        .when(
            k % 7 == 2,
            F.concat(
                F.lit('{"tipo":"metadados","arquivo":"f'), k,
                F.lit('","total_colunas":2,"colunas":["a","b"]}'),
            ),
        )
        .otherwise(F.concat(F.lit('{"tipo":"registro","dados":{"val":"'), k, F.lit('"}}')))
    )
    from etl_lala_spark.plans._gates import fixture_region

    with fixture_region("ndjson_error_records"):
        (
            load_table(spark, sf_dir, "orders")
            .filter(k < 600)
            .select(line.alias("value"))
            .write.mode("overwrite")
            .text(work)
        )

    meta, recs = read_tagged_ndjson(spark, work, ["val"])
    errs = tagged_ndjson_errors(spark, work, ["val"])
    summary = (
        recs.groupBy(F.lit("registro").alias("category")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("long")).alias("sum_val"),
        )
        .unionByName(
            meta.groupBy(F.lit("metadados").alias("category")).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("total_colunas").cast("long").alias("sum_val"),
            )
        )
        .unionByName(
            errs.groupBy(F.col("error").alias("category")).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.lit(0)).cast("long").alias("sum_val"),
            )
        )
    )
    return summary.orderBy("category")


_FETCH_HTTP_ORACLE = """
SELECT 'nation_' || n_nationkey || '.bin' AS fname,
       CASE WHEN n_nationkey % 6 IN (1, 2) THEN 'error'
            WHEN n_nationkey % 6 = 3 THEN 'skipped'
            ELSE 'ok' END AS status,
       CAST(CASE WHEN n_nationkey % 6 IN (0, 1) THEN 2
                 WHEN n_nationkey % 6 = 3 THEN 0
                 ELSE 1 END AS INT) AS attempts,
       CAST(CASE WHEN n_nationkey % 6 IN (1, 2) THEN 0
            ELSE strlen(n_name) + 1 + strlen(CAST(n_nationkey AS VARCHAR))
            END AS BIGINT) AS n_bytes,
       CASE WHEN n_nationkey % 6 = 1 THEN 'HTTPError'
            WHEN n_nationkey % 6 = 2 THEN 'ValueError'
            ELSE '' END AS error_class
FROM nation
ORDER BY fname
"""


@register("fetch_http_loopback", oracle=_FETCH_HTTP_ORACLE)
def fetch_http_loopback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 executor-side HTTP fetch under the correctness gate, over REAL
    HTTP: a loopback ``ThreadingHTTPServer`` (127.0.0.1, OS-assigned port)
    serves one deterministic body per nation and the real
    ``fetch_to_staging`` kernel (reference S5: in-memory download with a
    500 MB cap, retry with backoff, src/datasus/datasus.service.ts:251-275)
    fetches the whole manifest executor-side in the JVM codec's ``Fetch``
    UDF, which reports urllib's error classes. Every reference semantic is
    exercised against live status codes, not file:// shortcuts, with the
    behavior keyed on ``n_nationkey % 6``:

    - ``% 6 == 0``: the server 503s the FIRST request for the path and
      succeeds after — retry-with-backoff must land ``ok`` on attempt 2;
    - ``% 6 == 1``: a permanent 404 — structured error row (R5), attempts
      exhausted at retries+1, never an exception;
    - ``% 6 == 2``: the body exceeds ``max_bytes`` — the cap aborts the
      chunked download mid-stream into an error row on attempt 1 (cap
      violations are permanent, so the kernel must NOT retry them);
    - ``% 6 == 3``: the destination is pre-staged — idempotent replay
      reports ``skipped`` without touching the network;
    - otherwise: a plain 200 — ``ok`` on attempt 1 with the exact body
      length ``len(n_name) + 1 + len(str(key))``.

    The oracle replays status/attempts/size/error-class per nation in
    closed form, so a broken retry loop, an ignored cap, a swallowed 404,
    or a re-downloaded staged file all land on a different hash.

    Scale: the manifest is the DataFrame and the fetch is a Java UDF under
    ``inline`` — one task per manifest partition, no driver byte ever
    moves; this gate runs 8 partitions' worth of concurrent loopback
    requests through the threading server.

    Gate scope (not operator scope): the loopback server binds 127.0.0.1
    in the DRIVER process, so this certification runs in local mode —
    on a multi-node cluster executors cannot reach it (the OPERATOR is
    location-agnostic; point the manifest at any reachable host). The
    503-once behavior is served from per-run server state, which assumes
    no task retry/speculation within one gate run — true for the driver's
    and bench's local availableNow-style execution (spark.speculation
    defaults off); a re-run task would see 200-first and flip
    ``attempts`` for the %6==0 rows."""
    import threading

    from etl_lala_spark.plans._gates import (
        QuietHandler,
        fixture_region,
        gate_workdir,
        loopback_server,
    )
    from etl_lala_spark.sources.fetch import fetch_to_staging

    with fixture_region("fetch_http_loopback"):
        work = gate_workdir(spark, "fetch_http_loopback")
        staging = os.path.join(work, "staging")
        os.makedirs(staging)

        nations = [
            (int(r["n_nationkey"]), str(r["n_name"]))
            for r in load_table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name")
            .collect()
        ]
    max_bytes = 64
    bodies = {k: f"{name}|{k}".encode() for k, name in nations}
    seen: set[str] = set()
    lock = threading.Lock()

    class Handler(QuietHandler):
        def do_GET(self):
            key = int(self.path.rstrip("/").rsplit("/", 1)[-1].split(".")[0])
            cat = key % 6
            with lock:
                first = self.path not in seen
                seen.add(self.path)
            if cat == 0 and first:
                self.send_error(503)
                return
            if cat == 1:
                self.send_error(404)
                return
            body = b"X" * (max_bytes + 1) if cat == 2 else bodies[key]
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    with loopback_server(Handler) as base:
        # pre-stage the % 6 == 3 destinations with their exact bodies
        with fixture_region("fetch_http_loopback"):
            for k, _ in nations:
                if k % 6 == 3:
                    with open(
                        os.path.join(staging, f"nation_{k}.bin"), "wb"
                    ) as fh:
                        fh.write(bodies[k])
        manifest = spark.createDataFrame(
            [(f"{base}/{k}.bin", f"nation_{k}.bin") for k, _ in nations],
            "url string, fname string",
        ).repartition(8)
        result = fetch_to_staging(
            manifest, staging, name_col="fname",
            max_bytes=max_bytes, retries=1, backoff_s=0.05,
        )
        result.write.mode("overwrite").parquet(os.path.join(work, "out"))
    out = spark.read.parquet(os.path.join(work, "out"))
    return (
        out.select(
            F.element_at(F.split("dest", "/"), -1).alias("fname"),
            "status",
            "attempts",
            "n_bytes",
            F.coalesce(F.split("error", ":").getItem(0), F.lit("")).alias(
                "error_class"
            ),
        )
        .orderBy("fname")
    )


_ZORDER_ORACLE = """
WITH b AS (
  SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
         MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
  FROM lineitem
),
f AS (SELECT l.l_partkey, l.l_suppkey, l.l_quantity, l.l_extendedprice,
             b.pmin, b.pmax, b.smin, b.smax
      FROM lineitem l, b),
agg AS (
  -- global aggregates (one row even for an EMPTY box, n_rows = 0 and NULL
  -- sums) so the shape matches Spark's per-box .agg() exactly; a GROUP BY
  -- would drop empty boxes and false-fail the gate on a degenerate domain
  SELECT 1 AS box_id, count(*) AS n, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp
  FROM f
  WHERE l_partkey <= pmin + (pmax - pmin) // 10
    AND l_suppkey <= smin + (smax - smin) // 10
  UNION ALL
  SELECT 2, count(*), SUM(CAST(l_quantity AS DECIMAL(18,2))),
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
  FROM f
  WHERE l_partkey >= pmin + 4 * ((pmax - pmin) // 10)
    AND l_partkey <= pmin + 6 * ((pmax - pmin) // 10)
  UNION ALL
  SELECT 3, count(*), SUM(CAST(l_quantity AS DECIMAL(18,2))),
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
  FROM f
  WHERE l_suppkey >= smax - (smax - smin) // 10
)
SELECT box_id, CAST(n AS BIGINT) AS n_rows,
       ROUND(CAST(sq AS DOUBLE), 2) AS sum_qty,
       ROUND(CAST(sp AS DOUBLE), 2) AS sum_price
FROM agg ORDER BY box_id
"""


@register("sink_zorder_roundtrip", oracle=_ZORDER_ORACLE)
def sink_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered rewrite under the correctness gate: lineitem is
    rewritten through ``write_zordered`` (Morton interleave of l_partkey ×
    l_suppkey, range-partitioned + sorted on the Z key — the lakehouse
    OPTIMIZE ZORDER layout), read back, and probed with three box
    predicates (corner box on both dims, mid band on the leading dim, top
    band on the TRAILING dim) whose bounds derive from the observed min/max
    by integer arithmetic. Per box: row count + decimal sums. The oracle
    replays the boxes directly over the source table, so a clustered
    rewrite that drops, duplicates, or corrupts rows — or a bucketing bug
    that misplaces boundary values — lands on a different hash.

    The skipping POWER of the layout (fewer row groups intersect a thin
    box on the trailing dim than a lexicographic sort allows) is asserted
    from parquet footer statistics in tests/test_sinks.py
    (test_write_zordered_skips_on_both_columns); this gate pins the
    rewrite's correctness. Scale: the rewrite is one range shuffle on the
    Z key; every probe reads only footer-intersecting row groups, which is
    the point at 100 TB."""
    from etl_lala_spark.plans._gates import fixture_region, gate_workdir
    from etl_lala_spark.sinks.writer import write_zordered

    zpath = os.path.join(gate_workdir(spark, "sink_zorder_roundtrip"), "ztable")
    with fixture_region("sink_zorder_roundtrip"):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
        )
        write_zordered(li, zpath, zcols=("l_partkey", "l_suppkey"), n_files=16)

    z = spark.read.parquet(zpath)
    bounds = z.agg(
        F.min("l_partkey").alias("pmin"),
        F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
    )
    zb = z.join(F.broadcast(bounds))
    pspan = F.expr("(pmax - pmin) div 10")
    sspan = F.expr("(smax - smin) div 10")

    def box(box_id: int, pred):
        return (
            zb.where(pred)
            .agg(
                F.lit(box_id).alias("box_id"),
                F.count(F.lit(1)).alias("n_rows"),
                F.round(
                    F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("sum_qty"),
                F.round(
                    F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("sum_price"),
            )
        )

    b1 = box(
        1,
        (F.col("l_partkey") <= F.col("pmin") + pspan)
        & (F.col("l_suppkey") <= F.col("smin") + sspan),
    )
    b2 = box(
        2,
        (F.col("l_partkey") >= F.col("pmin") + 4 * pspan)
        & (F.col("l_partkey") <= F.col("pmin") + 6 * pspan),
    )
    b3 = box(3, F.col("l_suppkey") >= F.col("smax") - sspan)
    return b1.unionByName(b2).unionByName(b3).orderBy("box_id")


_DBC_PERMISSIVE_ORACLE = """
WITH base AS (
  SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rn,
         CAST(CAST(round(l_extendedprice, 2) AS DECIMAL(14,2)) AS VARCHAR) AS v
  FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 150)
),
good AS (
  SELECT CASE WHEN rn < 100 THEN 'PAPE2501' ELSE 'PAPE2502' END
           AS arquivo_origem,
         count(*) AS n, CAST(0 AS BIGINT) AS n_errors,
         round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
  FROM base GROUP BY 1
),
bad AS (
  SELECT 'BAD0' || i AS arquivo_origem, CAST(1 AS BIGINT) AS n,
         CAST(1 AS BIGINT) AS n_errors, CAST(NULL AS DOUBLE) AS total
  FROM range(1, 3) t(i)
)
SELECT arquivo_origem, CAST(n AS BIGINT) AS n, n_errors, total
FROM (SELECT * FROM good UNION ALL SELECT * FROM bad)
ORDER BY arquivo_origem
"""


@register("dbc_permissive_errors", oracle=_DBC_PERMISSIVE_ORACLE)
def dbc_permissive_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 + R5 composed: the DBC decoder's PERMISSIVE error stream under
    the correctness gate. Two valid ``.dbc`` fixtures (100 + 50 ordered
    lineitem rows) land next to two corrupt members (pure garbage, and a
    DBF-looking header over garbage record bytes); ``read_dbc(mode=
    "PERMISSIVE")`` must decode the good files completely, emit exactly
    one ``_decode_error`` row per bad file (data columns NULL), and never
    throw — the Spark PERMISSIVE/badRecords convention that stops one
    truncated archive member from killing a 100 TB backfill (the NDJSON
    source's R5 twin; reference fail-fast guard:
    src/datasus/datasus.service.ts:30-33). The oracle replays good-file
    sums from lineitem row windows and states the bad-file error rows in
    closed form; a decoder that drops good rows after an error, double-
    emits error rows, or dies on garbage lands on a different hash."""
    from etl_lala_spark.plans._gates import fixture_region
    from etl_lala_spark.plans.datasus import render_dbc_fixtures
    from etl_lala_spark.sources.dbc import read_dbc

    with fixture_region("dbc_permissive_errors"):
        fixture_dir = render_dbc_fixtures(
            spark, sf_dir, "dbc_permissive_errors",
            ["AP_VL_TOTAL"],
            [("PAPE2501", 0, 100), ("PAPE2502", 100, 150)], n_rows=150,
        )
        with open(os.path.join(fixture_dir, "BAD01.dbc"), "wb") as fh:
            fh.write(b"not a dbc at all" * 8)
        with open(os.path.join(fixture_dir, "BAD02.dbc"), "wb") as fh:
            # VALID DBF header + garbage compressed payload: passes the
            # container sniff and fails inside the implode explode ("bad
            # literal flag 255") — the decode-past-the-header failure
            # path, distinct from BAD01's header sniff
            import struct

            from etl_lala_spark.sources.dbc import write_dbf

            dbf = write_dbf(["AP_VL_TOTAL"], [["1.00"]])
            hl = struct.unpack("<H", dbf[8:10])[0]
            fh.write(dbf[:hl] + b"\x00\x00\x00\x00" + b"\xff" * 32)

    members = (
        spark.read.format("binaryFile")
        .load(fixture_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("member_basename"),
            "content",
        )
    )
    records = read_dbc(members, columns=["AP_VL_TOTAL"], mode="PERMISSIVE")
    return (
        records.groupBy("arquivo_origem")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("_decode_error").alias("n_errors"),
            F.round(
                F.sum(F.col("AP_VL_TOTAL").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total"),
        )
        .orderBy("arquivo_origem")
    )


_ARCHIVE_PERMISSIVE_ORACLE = """
WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 160)
SELECT 'corrupt_archive' AS category,
       CAST(count(*) AS BIGINT) AS n,
       CAST(0 AS BIGINT) AS sum_bytes,
       'BadZipFile' AS error_class
FROM d WHERE doc_id % 4 = 0
UNION ALL
SELECT 'good', CAST(count(*) AS BIGINT),
       CAST(sum(doc_id % 7 + 3) AS BIGINT), ''
FROM d WHERE doc_id % 4 <> 0
UNION ALL
SELECT 'over_cap', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT), 'ValueError'
FROM d WHERE doc_id % 4 = 1
ORDER BY category
"""


@register("archive_permissive_errors", oracle=_ARCHIVE_PERMISSIVE_ORACLE)
def archive_permissive_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 on the S6 expansion path, under the correctness gate: per document
    an archive is rendered in-cluster whose class is keyed on doc_id —

    - ``% 4 == 0``: garbage bytes behind a PK signature (not a ZIP) — the
      whole archive must degrade to ONE structured error row (member NULL,
      BadZipFile class), not a task failure;
    - ``% 4 == 1``: a real ZIP holding one good ``.dbc`` member AND one
      member whose DECLARED size exceeds the 64-byte cap — the good member
      must still flow while the over-cap one becomes an error row whose
      guard read only the directory entry (the zip-bomb contract);
    - otherwise: a real ZIP with one good member.

    The real ``extract_archive_members(permissive=True, max_member_bytes)``
    kernel expands everything in one JVM pass; rows reduce to per-category
    (count, byte sum, error class), which the oracle replays in closed form
    from documents. A swallowed corrupt archive, a cap that blocks the
    sibling good member, a mis-classified error, or a cap that inflates the
    member before rejecting it all land on a different hash.

    Scale: the cap check is metadata-only (central-directory size field),
    so a 1 MB archive declaring a 100 GB member is rejected in O(1) —
    the guard a 100 TB backfill needs against hostile inputs."""
    import zipfile
    from io import BytesIO

    from etl_lala_spark.sources.archive import extract_archive_members

    cap = 64

    def render(d: int) -> list[tuple]:
        if d % 4 == 0:
            blob = b"PK\x03\x04 definitely not a zip " + bytes(
                [d % 251] * (d % 13 + 1)
            )
        else:
            buf = BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
                zf.writestr(f"m{d}.dbc", b"x" * (d % 7 + 3))
                if d % 4 == 1:
                    zf.writestr(f"big{d}.dbc", b"B" * (cap + 1))
            blob = buf.getvalue()
        return [(f"mem://perm{d}.zip", blob)]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 160)
    archives = map_rows(docs.select("doc_id"), render, "path string, content binary")
    members = extract_archive_members(
        archives, suffix=".dbc", max_member_bytes=cap, permissive=True
    )
    category = (
        F.when(F.col("_error").isNull(), F.lit("good"))
        .when(F.col("member").isNull(), F.lit("corrupt_archive"))
        .otherwise(F.lit("over_cap"))
    )
    return (
        members.groupBy(category.alias("category"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_error").isNull(), F.col("n_bytes")).otherwise(0))
            .cast("long")
            .alias("sum_bytes"),
            F.max(
                F.coalesce(F.split("_error", ":").getItem(0), F.lit(""))
            ).alias("error_class"),
        )
        .orderBy("category")
    )


# --- WARC / Common Crawl ingestion (web-pipeline ingestion stage) ------------

# Response i of doc d carries body ('doc{d}:record{i};' * (i%2+1)); the gzip
# member layout, record interleaving (warcinfo, then request/response pairs),
# HTTP envelope arithmetic, and payload bytes are ALL closed-form in (d, i),
# so the oracle replays every column from SQL ranges alone.
_WARC_ORACLE = """
WITH m AS (
  SELECT d.doc_id, i.i
  FROM (SELECT doc_id FROM documents WHERE doc_id < 120) d, range(0, 3) i(i)
  WHERE i.i <= d.doc_id % 3
),
c AS (
  SELECT doc_id, i,
         repeat('doc' || doc_id || ':record' || i || ';',
                CAST(i % 2 + 1 AS INT)) AS body,
         CASE WHEN i % 2 = 0 THEN 200 ELSE 404 END AS status
  FROM m
)
SELECT 'mem://crawl' || doc_id || '.warc.gz' AS file,
       CAST(2 * i + 2 AS INT) AS record_index,
       'response' AS warc_type,
       'http://example.com/doc' || doc_id || '/page' || i AS target_uri,
       CAST(status AS INT) AS http_status,
       -- HTTP block = status line CRLF + 'Content-Type: text/html' CRLF +
       -- 'Content-Length: ' len CRLF CRLF + body
       CAST((CASE WHEN status = 200 THEN 15 ELSE 22 END) + 2 + 25
            + 16 + strlen(CAST(strlen(body) AS VARCHAR)) + 4
            + strlen(body) AS BIGINT) AS content_length,
       CAST(strlen(body) AS BIGINT) AS n_payload_bytes,
       md5(body) AS digest
FROM c
ORDER BY file, record_index
"""


@register("web_warc_extract", oracle=_WARC_ORACLE)
def web_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/Common Crawl ingestion under the correctness gate: per document
    a REAL .warc.gz is assembled in-cluster in the Common Crawl layout —
    every record its own gzip member: one warcinfo record (decoy), then per
    page a request record (decoy) and a response record whose HTTP block
    wraps a closed-form body — expanded by the real one-to-many
    ``extract_warc_records`` kernel (sources/warc.py) filtered to
    responses. The oracle replays the member fan-out, the ALL-records
    ordinal (warcinfo=0, request 2i+1, response 2i+2 — a reader that
    numbers only kept records lands on a different hash), the HTTP
    header/payload separation arithmetic (content_length counts the whole
    HTTP message, n_payload_bytes only the body), status-line parsing
    (200/404 alternate), and payload bytes (md5) from SQL ranges alone.

    Web-layer mirror of reference S6 archive expansion
    (src/datasus/datasus.service.ts:390-413); the one-to-many shape of
    ``sources/archive.py``, in mapInPandas. Scale: one Arrow-batched pass, per-file
    parallelism, no shuffle before the final order-by."""
    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        http_response_bytes,
        warc_file_bytes,
        warc_record_bytes,
    )

    def render(d: int) -> list[tuple]:
        members = [warc_record_bytes("warcinfo", b"software: etl-lala-gate")]
        for i in range(d % 3 + 1):
            uri = f"http://example.com/doc{d}/page{i}"
            members.append(
                warc_record_bytes("request", b"GET / HTTP/1.1", target_uri=uri)
            )
            body = (f"doc{d}:record{i};" * (i % 2 + 1)).encode()
            status = 200 if i % 2 == 0 else 404
            members.append(
                warc_record_bytes(
                    "response", http_response_bytes(status, body),
                    target_uri=uri,
                )
            )
        return [(f"mem://crawl{d}.warc.gz", warc_file_bytes(members))]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    warcs = map_rows(docs.select("doc_id"), render, "path string, content binary")
    recs = extract_warc_records(warcs, types=("response",))
    return recs.select(
        "file",
        "record_index",
        "warc_type",
        "target_uri",
        "http_status",
        "content_length",
        "n_payload_bytes",
        F.md5("payload").alias("digest"),
    ).orderBy("file", "record_index")


_WARC_PIPELINE_ORACLE_TMPL = """
WITH d AS (
  SELECT doc_id, doc_id % 3 + 1 AS m,
         length(CAST(doc_id AS VARCHAR)) AS dk
  FROM documents WHERE doc_id < 30
)
SELECT doc_id,
       CAST(m + 4 AS BIGINT) AS n_blocks,
       CAST(m + 2 AS BIGINT) AS n_good,
       CAST(2 AS BIGINT) AS n_bad,
       CAST((4 + dk) + m * ({para_len} + 4 + dk)
            + {link_len} AS BIGINT) AS content_chars,
       CAST({chrome_chars} AS BIGINT) AS chrome_chars
FROM d
ORDER BY doc_id
"""


def _warc_pipeline_oracle() -> str:
    from etl_lala_spark.plans.llm_text import (
        _MC_FOOTER_TEXT_CHARS,
        _MC_LINKPARA_TEXT,
        _MC_NAV_TEXT_CHARS,
        _MC_PARA,
    )

    return _WARC_PIPELINE_ORACLE_TMPL.format(
        para_len=len(_MC_PARA),
        link_len=len(_MC_LINKPARA_TEXT),
        chrome_chars=_MC_NAV_TEXT_CHARS + _MC_FOOTER_TEXT_CHARS,
    )


@register("web_warc_pipeline", oracle=_warc_pipeline_oracle())
def web_warc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl chain end-to-end: .warc.gz fixtures (Common Crawl
    member-per-record layout) whose response bodies are EXACTLY the
    constructed pages of the ``text_extract_main_content`` gate → real WARC
    expansion (``sources/warc.py``) → HTTP body decode → real HTML
    main-content extraction (``operators/text.py:extract_main_content``).
    The oracle is the extraction gate's closed-form per-doc block/char
    arithmetic, re-derived from the shared literals — so a WARC-layer bug
    (envelope bytes leaking into the payload, body truncation, charset
    mangling) lands on different content_chars even when record accounting
    is right. Scale: mapInPandas expansion + codegen extraction, one
    groupBy(doc) shuffle."""
    from etl_lala_spark.plans.llm_text import _MC_PARA
    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        http_response_bytes,
        warc_file_bytes,
        warc_record_bytes,
    )

    def render(d: int) -> list[tuple]:
        paras = "\n".join(
            f"<p>{_MC_PARA} w{d}x{i}</p>" for i in range(1, d % 3 + 2)
        )
        html = (
            '<html><body>\n<script>var a = "<p>not text</p>";'
            '</script>\n<div class="nav"><a href="/">home</a>'
            f' <a href="/about">about us now</a></div>\n<h1>Doc {d}'
            f"</h1>\n{paras}\n<p>we saw the old boat by the"
            ' <a href="/x">long pier</a> and the cold sea</p>\n'
            '<div class="footer"><a href="/t">t&amp;c</a>'
            ' <a href="/p">privacy</a> <a href="/c">contact</a>'
            "</div>\n</body></html>"
        )
        rec = warc_record_bytes(
            "response",
            http_response_bytes(200, html.encode()),
            target_uri=f"http://example.com/doc{d}",
        )
        return [(f"mem://pipe{d}.warc.gz", warc_file_bytes([rec]))]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    warcs = map_rows(docs.select("doc_id"), render, "path string, content binary")
    pages = extract_warc_records(warcs, types=("response",)).select(
        F.regexp_extract("target_uri", r"doc(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("payload").cast("string").alias("html"),
    )
    from etl_lala_spark.operators.text import extract_main_content

    return (
        extract_main_content(pages)
        .select(
            "doc_id", "n_blocks", "n_good", "n_bad", "content_chars",
            "chrome_chars",
        )
        .orderBy("doc_id")
    )


# --- robots.txt URL filtering (RFC 9309, crawl politeness) -------------------

_ROBOTS_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 10 AS h, (doc_id // 10) % 5 AS v
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       'site' || h || '.example.com' AS host,
       CASE v
         WHEN 0 THEN '/public/page' || doc_id
         WHEN 1 THEN '/private/doc' || doc_id
         WHEN 2 THEN '/private/open' || doc_id
         WHEN 3 THEN '/even' || doc_id || 'page'
         ELSE '/PRIVATE/x' || doc_id
       END AS path,
       CASE WHEN v = 1 THEN false
            WHEN v = 3 AND h % 2 = 0 THEN false
            ELSE true END AS allowed,
       CASE WHEN v = 1 THEN '/private/'
            WHEN v = 2 THEN '/private/open'
            WHEN v = 3 AND h % 2 = 0 THEN '/even*page$'
       END AS matched_rule
FROM d
ORDER BY doc_id
"""


@register("web_robots_filter", oracle=_ROBOTS_ORACLE)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt URL filtering (RFC 9309 — the crawl-politeness stage in
    front of every fetch frontier): ten hosts publish CONSTRUCTED robots
    bodies (comments, a crawler-specific group with a Disallow prefix, a
    longer Allow override, an even-host-only wildcard+anchor rule, and a
    deny-all ``*`` group that must NOT apply to the named crawler), parsed
    by the real ``operators/web.py:parse_robots`` and applied to a
    300-URL frontier by ``robots_allowed``. The oracle states every
    decision in closed form from the variant arithmetic: group selection,
    longest-match precedence, Allow-beats-Disallow ties, ``*``/``$``
    wildcard semantics, and path case-sensitivity each have a URL variant
    whose row flips if that rule breaks.

    Scale: rules are per-host configuration (broadcast); the frontier side
    is one scan through a broadcast join + one per-URL aggregation —
    Python never touches a URL."""
    from etl_lala_spark.operators import web

    hosts = spark.range(10).select(
        F.concat(F.lit("site"), F.col("id"), F.lit(".example.com")).alias(
            "host"
        ),
        F.concat(
            F.lit(
                "# crawl policy\nUser-agent: graftbot\nDisallow: /private/\n"
                "Allow: /private/open\n"
            ),
            F.when(
                F.col("id") % 2 == 0, F.lit("Disallow: /even*page$\n")
            ).otherwise(F.lit("")),
            F.lit("\nUser-agent: *\nDisallow: /\n"),
        ).alias("robots_txt"),
    )
    rules = web.parse_robots(hosts)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ds = F.col("doc_id").cast("string")
    h = F.col("doc_id") % 10
    v = (F.col("doc_id") / 10).cast("int") % 5
    urls = d.select(
        "doc_id",
        F.concat(F.lit("site"), h, F.lit(".example.com")).alias("host"),
        F.when(v == 0, F.concat(F.lit("/public/page"), ds))
        .when(v == 1, F.concat(F.lit("/private/doc"), ds))
        .when(v == 2, F.concat(F.lit("/private/open"), ds))
        .when(v == 3, F.concat(F.lit("/even"), ds, F.lit("page")))
        .otherwise(F.concat(F.lit("/PRIVATE/x"), ds))
        .alias("path"),
    )
    return web.robots_allowed(urls, rules, agent="graftbot").orderBy("doc_id")


# --- Bloom-filter frontier dedup (seen-URL membership) -----------------------

_BLOOM_M = 4096  # bits; with n=400 seen keys and k=3, FP ≈ 1.6%


def _bloom_oracle(m: int = _BLOOM_M) -> str:
    # replays _bloom_positions' 48-bit layout: 12-hex-char md5 windows,
    # two per salted digest (i -> salt i//2, window i%2)
    pos = "(('0x' || substr(md5('s{s}:' || url), {o}, 12))::BIGINT) % {m}"
    p = [pos.format(s=i // 2, o=1 + 12 * (i % 2), m=m) for i in range(3)]
    return f"""
WITH seen AS (
  SELECT 'http://example.com/page' || doc_id AS url
  FROM documents WHERE doc_id < 400
),
bits AS (
  SELECT DISTINCT unnest([{p[0]}, {p[1]}, {p[2]}]) AS p FROM seen
),
probe AS (
  SELECT doc_id, 'http://example.com/page' || doc_id AS url
  FROM documents WHERE doc_id >= 200 AND doc_id < 600
)
SELECT doc_id,
       ({p[0]}) IN (SELECT p FROM bits)
       AND ({p[1]}) IN (SELECT p FROM bits)
       AND ({p[2]}) IN (SELECT p FROM bits) AS maybe_seen
FROM probe ORDER BY doc_id
"""


@register("web_bloom_frontier", oracle=_bloom_oracle())
def web_bloom_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter frontier dedup (the seen-URL membership structure every
    large crawler keeps — and the same structure Spark's AQE uses for
    runtime join pruning): 400 seen URLs build a 4096-bit filter in ONE
    map-side-combined bit_or aggregation (`operators/web.py:bloom_build`),
    and a probe batch overlapping half seen / half novel tests membership
    as a pure-codegen bitmask scan (`bloom_probe` — the bitmap enters the
    plan as literals; no join, no shuffle). The oracle REPLAYS the filter
    itself: md5-derived bit positions, the distinct bit set, and the
    3-way conjunction — so every row matches bit-exactly, INCLUDING the
    ~1.6% deterministic false positives among the novel half (a false
    negative is impossible by construction; the oracle would catch one as
    a row mismatch on the seen half).

    Scale: the filter is O(m) driver state like a kmeans codebook; sizing
    m to the seen-set budget keeps the probe a constant-cost scan at any
    corpus size, which is why a frontier pre-filter beats an exact
    anti-join against every URL ever fetched."""
    from etl_lala_spark.operators import web

    d = load_table(spark, sf_dir, "documents")
    url = F.concat(F.lit("http://example.com/page"), F.col("doc_id")).alias(
        "url"
    )
    seen = d.filter(F.col("doc_id") < 400).select(url)
    bitmap = web.bloom_build(seen, n_bits=_BLOOM_M, k=3)
    probe = d.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 600)
    ).select("doc_id", url)
    return (
        web.bloom_probe(probe, bitmap, n_bits=_BLOOM_M, k=3)
        .select("doc_id", "maybe_seen")
        .orderBy("doc_id")
    )


_BLOOM_WORDS_M = 1 << 20  # big enough that a dense bitmap would be silly


def _bloom_sketch_oracle(m: int) -> str:
    """Closed-form replay of the durable-sketch lifecycle: DuckDB derives
    both batches' bit positions from the same md5 layout, so initial word
    count, merge-touched words, merge-new words, the replay's zero, and
    every probe verdict (false positives included) are all exact."""
    pos = "(('0x' || substr(md5('s{s}:' || url), {o}, 12))::BIGINT) % {m}"
    p = [pos.format(s=i // 2, o=1 + 12 * (i % 2), m=m) for i in range(3)]
    return f"""
WITH b1 AS (
  SELECT 'http://example.com/page' || doc_id AS url
  FROM documents WHERE doc_id < 200
),
b2 AS (
  SELECT 'http://example.com/page' || doc_id AS url
  FROM documents WHERE doc_id >= 100 AND doc_id < 300
),
p1 AS (SELECT DISTINCT unnest([{p[0]}, {p[1]}, {p[2]}]) AS p FROM b1),
p2 AS (SELECT DISTINCT unnest([{p[0]}, {p[1]}, {p[2]}]) AS p FROM b2),
w1 AS (SELECT DISTINCT p // 64 AS w FROM p1),
w2 AS (SELECT DISTINCT p // 64 AS w FROM p2),
delta_bits AS (SELECT p FROM p2 EXCEPT SELECT p FROM p1),
touched AS (SELECT DISTINCT p // 64 AS w FROM delta_bits),
neww AS (SELECT w FROM touched EXCEPT SELECT w FROM w1),
pall AS (SELECT p FROM p1 UNION SELECT p FROM p2),
wall AS (SELECT DISTINCT p // 64 AS w FROM pall),
probe AS (
  SELECT doc_id, 'http://example.com/page' || doc_id AS url
  FROM documents WHERE doc_id < 400
),
verdicts AS (
  SELECT doc_id,
         ({p[0]}) IN (SELECT p FROM pall)
         AND ({p[1]}) IN (SELECT p FROM pall)
         AND ({p[2]}) IN (SELECT p FROM pall) AS hit
  FROM probe
)
SELECT * FROM (
  SELECT 0 AS stage_ord, 'initial_words' AS stage,
         CAST(count(*) AS BIGINT) AS n FROM w1
  UNION ALL
  SELECT 1, 'merge_changed_words', CAST(count(*) AS BIGINT) FROM touched
  UNION ALL
  SELECT 2, 'merge_new_words', CAST(count(*) AS BIGINT) FROM neww
  UNION ALL
  SELECT 3, 'replay_changed_words', CAST(0 AS BIGINT)
  UNION ALL
  SELECT 4, 'compact_words', CAST(count(*) AS BIGINT) FROM wall
  UNION ALL
  -- store rows before compaction = initial write (one row per b1 word)
  -- + the appended delta (one row per b2 word); folding leaves |wall|
  SELECT 5, 'compact_rows_folded',
         CAST((SELECT count(*) FROM w1) + (SELECT count(*) FROM w2)
              - (SELECT count(*) FROM wall) AS BIGINT)
  UNION ALL
  SELECT 6, 'probe_maybe_seen', CAST(count(*) FILTER (hit) AS BIGINT)
  FROM verdicts
  UNION ALL
  SELECT 7, 'probe_rows', CAST(count(*) AS BIGINT) FROM verdicts
) ORDER BY stage_ord
"""


@register(
    "web_bloom_sketch_lifecycle", oracle=_bloom_sketch_oracle(_BLOOM_WORDS_M)
)
def web_bloom_sketch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DURABLE frontier sketch lifecycle
    (`operators/web.py:bloom_sketch_write/merge/compact/probe`) — what a
    monthly recrawl actually keeps between runs: the set-words sketch
    persists as parquet partitioned by pmod(w, n_parts); a new batch ORs
    in by APPEND-ONLY delta (committed files are never mutated, so no
    crash window can drop a set bit — the false-negative class the
    filter forbids); bit_or idempotency makes at-least-once replays
    free — the gate REPLAYS the merge and pins changed_words == 0;
    compaction folds appended duplicates into a fresh versioned
    directory and atomically flips the meta pointer — the gate pins both
    the folded word count and exactly how many duplicate rows folding
    removed. The probe then runs the join transport under the store's
    pinned (n_bits, k). Every stage integer and every probe verdict is
    replayed closed-form by the DuckDB oracle from the md5 position
    layout.

    Scale: write is one aggregation + one partitioned write; merge
    appends O(delta words) and reads the store once for its stats;
    probe is k word-index joins. Nothing anywhere is O(n_bits) or
    driver-resident."""
    import os

    from etl_lala_spark.io import tiny_df
    from etl_lala_spark.operators import web
    from etl_lala_spark.plans._gates import fixture_region, gate_workdir

    d = load_table(spark, sf_dir, "documents")
    url = F.concat(F.lit("http://example.com/page"), F.col("doc_id")).alias(
        "url"
    )
    with fixture_region("web_bloom_sketch_lifecycle"):
        work = gate_workdir(spark, "web_bloom_sketch_lifecycle")
        store = os.path.join(work, "bloom_sketch")
    b1 = d.filter(F.col("doc_id") < 200).select(url)
    b2 = d.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 300)
    ).select(url)
    wrote = web.bloom_sketch_write(
        b1, store, n_bits=_BLOOM_WORDS_M, k=3, n_parts=8
    )
    merged = web.bloom_sketch_merge(spark, store, b2)
    replayed = web.bloom_sketch_merge(spark, store, b2)
    compacted = web.bloom_sketch_compact(spark, store)
    probe = d.filter(F.col("doc_id") < 400).select("doc_id", url)
    verdicts = web.bloom_sketch_probe(probe, spark, store)
    counts = verdicts.agg(
        F.count_if(F.col("maybe_seen")).alias("hits"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0]
    return tiny_df(
        spark,
        [
            (0, "initial_words", wrote["words"]),
            (1, "merge_changed_words", merged["changed_words"]),
            (2, "merge_new_words", merged["new_words"]),
            (3, "replay_changed_words", replayed["changed_words"]),
            (4, "compact_words", compacted["words"]),
            (5, "compact_rows_folded", compacted["rows_folded"]),
            (6, "probe_maybe_seen", counts["hits"]),
            (7, "probe_rows", counts["rows"]),
        ],
        "stage_ord int, stage string, n bigint",
    )


@register("web_bloom_frontier_words", oracle=_bloom_oracle(_BLOOM_WORDS_M))
def web_bloom_frontier_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FRONTIER-SCALE Bloom form (`operators/web.py:bloom_build_words`
    + the join transport in `bloom_probe`): the sketch is a distributed
    set-words DataFrame — O(set bits) state, never collected, never dense
    anywhere — and the probe is k JVM-side left joins on the word index
    plus a codegen bit test, zero Python. Same oracle discipline as
    `web_bloom_frontier`: DuckDB replays the md5 bit positions and the
    3-way conjunction bit-exactly, so every verdict row (including any
    deterministic false positives) must match; a false negative is
    impossible by construction and would land as a seen-half mismatch.

    Scale: this is the 10^9–10^10-bit path (SCALE.md "Set-words join
    transport": 2^33-bit build+probe measured 8+12 s where the dense
    python-broadcast form took 36+324 s). The sketch side broadcasts
    under ``_BLOOM_WORDS_BCAST_MAX_ROWS`` (8M) words and degrades to a
    plain AQE-planned join beyond — the correct shape once the sketch
    itself is shuffle-scale."""
    from etl_lala_spark.operators import web

    d = load_table(spark, sf_dir, "documents")
    url = F.concat(F.lit("http://example.com/page"), F.col("doc_id")).alias(
        "url"
    )
    seen = d.filter(F.col("doc_id") < 400).select(url)
    words = web.bloom_build_words(seen, n_bits=_BLOOM_WORDS_M, k=3)
    probe = d.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 600)
    ).select("doc_id", url)
    return (
        web.bloom_probe(probe, words, n_bits=_BLOOM_WORDS_M, k=3)
        .select("doc_id", "maybe_seen")
        .orderBy("doc_id")
    )


# --- Outlink extraction + resolution (crawl URL discovery) -------------------

_LINK_GRAPH_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 5 AS h, doc_id % 3 AS c
  FROM documents WHERE doc_id < 300
),
links AS (
  SELECT doc_id, 'http://hub.example.com/abs' || doc_id AS link FROM d
  UNION ALL
  SELECT doc_id, 'http://cdn.example.com/lib' || c FROM d
  UNION ALL
  SELECT doc_id, 'http://site' || h || '.example.com/root' || doc_id FROM d
  UNION ALL
  SELECT doc_id, 'http://site' || h || '.example.com/dir/rel' || doc_id FROM d
  UNION ALL
  SELECT doc_id, 'http://site' || h || '.example.com/up' || doc_id FROM d
  UNION ALL
  SELECT doc_id, 'http://site' || h || '.example.com/q' || doc_id
                 || '?a=1&b=2' FROM d
)
SELECT doc_id, link FROM links ORDER BY doc_id, link
"""


@register("web_link_graph", oracle=_LINK_GRAPH_ORACLE)
def web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction + RFC 3986 reference resolution (the crawl's URL
    DISCOVERY stage — the edge list every link graph, PageRank prior, and
    frontier feed starts from): 300 constructed pages carry one href per
    resolution class — absolute (kept), ``mailto:`` and fragment-only
    (dropped), protocol-relative (base scheme), root-relative (origin
    join), plain relative (directory join), ``../`` (dot-segment
    removal), and an entity-encoded unsorted query with a tracking param
    (``&amp;`` decode + ``canonicalize_url``) — through the real
    ``operators/web.py:extract_links`` + canonicalization. The oracle
    states every resolved link in closed form: a wrong base directory, a
    kept mailto, a missed entity decode, or an unsorted query lands on
    different rows.

    Scale: one scan + one-to-many explode, codegen end to end — link
    extraction over 100 TB of HTML is embarrassingly parallel and feeds
    the (host, host) edge aggregate with one groupBy."""
    from etl_lala_spark.functions.scalars import canonicalize_url
    from etl_lala_spark.operators.web import extract_links

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ds = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 5).cast("string")
    c = (F.col("doc_id") % 3).cast("string")
    html = F.concat(
        F.lit('<html><body><a href="http://hub.example.com/abs'), ds,
        F.lit('">a</a> <a href="mailto:x@example.com">m</a>'),
        F.lit('<a href="//cdn.example.com/lib'), c,
        F.lit('">c</a> <a href="/root'), ds,
        F.lit('">r</a> <a href="rel'), ds,
        F.lit('">l</a> <a href="../up'), ds,
        F.lit('">u</a> <a href="#section">f</a><a href="/q'), ds,
        F.lit('?b=2&amp;utm_source=z&amp;a=1">q</a></body></html>'),
    )
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("http://site"), h, F.lit(".example.com/dir/page"), ds,
            F.lit(".html"),
        ).alias("url"),
        html.alias("html"),
    )
    return (
        extract_links(pages)
        .select("doc_id", canonicalize_url(F.col("link")).alias("link"))
        .orderBy("doc_id", "link")
    )


# --- CDX / Common Crawl index selection (web-pipeline stage 0) ----------------

# Capture i of doc d: ts = 20240101000000 + 100*d + i, status alternates
# 200/503, offset/length/digest closed-form in (d, i); docs % 5 == 0 are
# non-HTML (excluded), docs % 7 == 0 contribute two malformed index lines
# (dropped as _error rows). Selection keeps the NEWEST 200+text/html capture
# per SURT key: i* = m if m even else m - 1, n_captures = m/2 + 1.
_CDX_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 3 AS m,
         CASE WHEN doc_id % 3 % 2 = 0 THEN doc_id % 3
              ELSE doc_id % 3 - 1 END AS sel
  FROM documents WHERE doc_id < 200 AND doc_id % 5 <> 0
)
SELECT 'com,example)/doc' || doc_id AS surt,
       CAST(20240101000000 + doc_id * 100 + sel AS BIGINT) AS ts,
       'http://example.com/doc' || doc_id AS url,
       CAST(200 AS INT) AS status,
       'sha1:D' || doc_id || 'C' || sel AS digest,
       CAST(500 + sel AS BIGINT) AS length,
       CAST(doc_id * 1000 + sel * 100 AS BIGINT) AS offset,
       'crawl/seg' || doc_id % 4 || '.warc.gz' AS filename,
       CAST(m // 2 + 1 AS BIGINT) AS n_captures
FROM d
ORDER BY surt
"""


def _cdx_lines(d: DataFrame) -> DataFrame:
    """Closed-form CDXJ index lines for the gates: per doc < 200, captures
    i in 0..doc_id % 3 (status 200/503 alternating, mime text/html except
    docs % 5 == 0 → application/pdf), plus two malformed lines per
    doc % 7 == 0 (free text and a bad-JSON payload)."""
    ds = F.col("doc_id").cast("string")
    i = F.col("i").cast("string")
    json = F.concat(
        F.lit('{"url": "http://example.com/doc'), ds,
        F.lit('", "mime": "'),
        F.when(F.col("doc_id") % 5 == 0, "application/pdf").otherwise("text/html"),
        F.lit('", "status": "'),
        F.when(F.col("i") % 2 == 0, "200").otherwise("503"),
        F.lit('", "digest": "sha1:D'), ds, F.lit("C"), i,
        F.lit('", "length": "'), (F.lit(500) + F.col("i")).cast("string"),
        F.lit('", "offset": "'),
        (F.col("doc_id") * 1000 + F.col("i") * 100).cast("string"),
        F.lit('", "filename": "crawl/seg'), (F.col("doc_id") % 4).cast("string"),
        F.lit('.warc.gz"}'),
    )
    captures = d.select(
        F.explode(F.sequence(F.lit(0), F.col("doc_id") % 3)).alias("i"),
        F.concat(
            F.lit("com,example)/doc"), ds, F.lit(" "),
            (F.lit(20240101000000) + F.col("doc_id") * 100 + F.col("i")).cast("string"),
            F.lit(" "), json,
        ).alias("line"),
    ).select("line")
    bad = d.filter(F.col("doc_id") % 7 == 0).select(
        F.explode(
            F.array(
                F.concat(F.lit("corrupt index shard row "), ds),
                F.concat(
                    F.lit("com,example)/bad"), ds,
                    F.lit(" 20240101000000 {not json at all"),
                ),
            )
        ).alias("line")
    )
    return captures.unionAll(bad)


@register("web_cdx_select", oracle=_CDX_ORACLE)
def web_cdx_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX(J) index parsing + capture selection (Common Crawl's index-first
    access pattern — cdx_toolkit / cc-index family): closed-form CDXJ
    lines (multiple captures per URL with alternating HTTP status, non-HTML
    docs, and injected malformed/bad-JSON lines) flow through the real
    ``operators/web.py:parse_cdxj`` → ``select_captures`` kernels. The
    oracle states the surviving capture per SURT key in closed form:
    keeping a 503 or a PDF capture, electing by offset instead of newest
    timestamp, dropping the dedup tiebreak, failing to reject a malformed
    line, or mangling a JSON field all land on different rows.

    Scale: parsing is one codegen scan of the index (no Python, no
    shuffle); selection is the index's ONLY shuffle, one map-side-combined
    hash agg at URL-key grain. The 100 TB crawl itself is never touched —
    that is the point of index-first access."""
    from etl_lala_spark.operators.web import parse_cdxj, select_captures

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sel = select_captures(parse_cdxj(_cdx_lines(d)))
    return sel.select(
        "surt", "ts", "url", "status", "digest", "length", "offset",
        "filename", "n_captures",
    ).orderBy("surt")


_CDX_PLAN_ORACLE = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 % 2 = 0 THEN doc_id % 3
              ELSE doc_id % 3 - 1 END AS sel
  FROM documents WHERE doc_id < 200 AND doc_id % 5 <> 0
)
SELECT 'crawl/seg' || doc_id % 4 || '.warc.gz' AS filename,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(500 + sel) AS BIGINT) AS total_bytes,
       CAST(min(doc_id * 1000 + sel * 100) AS BIGINT) AS min_offset,
       CAST(max(doc_id * 1000 + sel * 100) AS BIGINT) AS max_offset
FROM d
GROUP BY 1
ORDER BY filename
"""


@register("web_cdx_fetch_plan", oracle=_CDX_PLAN_ORACLE)
def web_cdx_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-WARC-file fetch work units rolled up from the CDX selection
    (``operators/web.py:cdx_fetch_plan``) — the scheduling unit of a
    range-fetching stage: records of one file fetch together, so pulling
    selected content out of a 100 TB crawl costs (files touched) ranged
    reads, not (captures) HTTP round trips. The oracle replays the
    byte/offset arithmetic per file in closed form."""
    from etl_lala_spark.operators.web import (
        cdx_fetch_plan,
        parse_cdxj,
        select_captures,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    plan = cdx_fetch_plan(select_captures(parse_cdxj(_cdx_lines(d))))
    return plan.orderBy("filename")


# --- Domain-blocklist + badword filtering (C4 / UT1 / FineWeb cleaning) -------

# URL shape per doc (k = doc_id % 6) exercises every registered-domain
# branch: subdomain of a listed .com (k=0, blocked iff d%7 < 4), cased+port
# subdomain under a two-label public suffix (k=1, blocked iff d%5 < 3),
# clean .org (k=2), deep subdomain (k=3), single-label host (k=4), a host
# that IS a public suffix (k=5). Badwords are appended to the real document
# text (1× for d%3==0, 2× for d%4==0), so n_badwords is closed-form while
# n_tokens replays the real tokenization.
_BLOCKLIST_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 6 AS k, doc_id % 7 AS t7, doc_id % 5 AS t5,
         text
           || CASE WHEN doc_id % 3 = 0 THEN ' badwordalpha' ELSE '' END
           || CASE WHEN doc_id % 4 = 0 THEN ' badwordbeta badwordbeta'
              ELSE '' END AS txt
  FROM documents WHERE doc_id < 300
),
f AS (
  SELECT doc_id,
         CASE k
           WHEN 0 THEN 'ads.tracker' || t7 || '.com'
           WHEN 1 THEN 'www.badshop' || t5 || '.co.uk'
           WHEN 2 THEN 'clean' || doc_id || '.org'
           WHEN 3 THEN 'a.b.c.clean' || doc_id || '.com'
           WHEN 4 THEN 'localhost'
           ELSE 'co.uk' END AS host,
         CASE k
           WHEN 0 THEN 'tracker' || t7 || '.com'
           WHEN 1 THEN 'badshop' || t5 || '.co.uk'
           WHEN 2 THEN 'clean' || doc_id || '.org'
           WHEN 3 THEN 'clean' || doc_id || '.com'
           WHEN 4 THEN 'localhost'
           ELSE 'co.uk' END AS reg_domain,
         (k = 0 AND t7 < 4) OR (k = 1 AND t5 < 3) AS blocked_domain,
         CAST(len(list_filter(regexp_split_to_array(lower(txt), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
              + CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS BIGINT)
           AS n_badwords
  FROM d
)
SELECT doc_id, host, reg_domain, blocked_domain, n_tokens, n_badwords,
       round(n_badwords / n_tokens, 6) AS badword_frac,
       CASE WHEN blocked_domain THEN 'blocked_domain'
            WHEN n_badwords > 0 THEN 'badwords'
            ELSE 'kept' END AS verdict
FROM f
ORDER BY doc_id
"""


@register("web_domain_badword_filter", oracle=_BLOCKLIST_ORACLE)
def web_domain_badword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/UT1/FineWeb document-cleaning filter pair under one gate:
    registrable-domain blocklisting
    (``operators/web.py:domain_blocklist_filter`` over
    ``functions/scalars.py:registered_domain``) and lexicon badword
    statistics (``operators/text.py:badword_stats``). URLs exercise every
    eTLD+1 branch (subdomain, cased host + port, two-label public suffix,
    deep subdomain, single label, suffix-as-host); the blocklist carries a
    cased duplicate to pin its own normalization; badwords are appended
    to the REAL document text so the multiset count is closed-form while
    the token denominator replays real tokenization. A wrong suffix rule,
    a substring (non-whole-token) badword match, a distinct-not-multiset
    count, or a dropped port all land on different rows.

    Scale: blocklist joins broadcast at domain grain (UT1 ~4M rows =
    megabytes); the lexicon is a literal array in codegen — filtering
    100 TB is one scan, zero corpus shuffles."""
    from etl_lala_spark.operators.text import badword_stats
    from etl_lala_spark.operators.web import domain_blocklist_filter

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ds = F.col("doc_id").cast("string")
    k = F.col("doc_id") % 6
    url = (
        F.when(k == 0, F.concat(F.lit("http://ads.tracker"),
                                (F.col("doc_id") % 7).cast("string"),
                                F.lit(".com/x")))
        .when(k == 1, F.concat(F.lit("http://WWW.BadShop"),
                               (F.col("doc_id") % 5).cast("string"),
                               F.lit(".co.uk:8080/p")))
        .when(k == 2, F.concat(F.lit("http://clean"), ds, F.lit(".org/x")))
        .when(k == 3, F.concat(F.lit("http://a.b.c.clean"), ds, F.lit(".com/")))
        .when(k == 4, F.lit("http://localhost/x"))
        .otherwise(F.lit("http://co.uk/x"))
    )
    txt = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, " badwordalpha").otherwise(""),
        F.when(F.col("doc_id") % 4 == 0, " badwordbeta badwordbeta").otherwise(""),
    )
    docs = d.select("doc_id", url.alias("url"), txt.alias("text"))
    blocklist = spark.createDataFrame(
        [(f"tracker{i}.com",) for i in range(4)]
        + [(f"badshop{i}.co.uk",) for i in range(3)]
        + [("Tracker2.Com",), ("never-seen.example",)],
        "domain string",
    )
    flagged = badword_stats(
        domain_blocklist_filter(docs, blocklist),
        badwords=["badwordalpha", "BADWORDBETA"],
    )
    verdict = (
        F.when(F.col("blocked_domain"), "blocked_domain")
        .when(F.col("n_badwords") > 0, "badwords")
        .otherwise("kept")
    )
    return flagged.select(
        "doc_id", "host", "reg_domain", "blocked_domain",
        "n_tokens", "n_badwords", "badword_frac",
        verdict.alias("verdict"),
    ).orderBy("doc_id")


# --- Sitemap parsing (crawl seed discovery) -------------------------------------

# Even docs are namespaced urlsets with d % 3 + 1 entries (entry 0 full,
# entry 1 entity-encoded loc with no lastmod/priority, entry 2 CDATA loc —
# verbatim, never entity-decoded); odd docs are sitemapindex files with
# d % 2 + 1 gzipped-sitemap refs. The oracle STATES every parsed field
# closed-form (no XML engine on the DuckDB side at all).
_SITEMAP_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 3 AS m3, doc_id % 2 AS m2, doc_id % 9 AS m9
  FROM documents WHERE doc_id < 250
),
u AS (
  SELECT doc_id, 'urlset' AS kind, unnest(range(0, m3 + 1)) AS entry_index,
         m9 FROM d WHERE doc_id % 2 = 0
),
s AS (
  SELECT doc_id, 'sitemapindex' AS kind, unnest(range(0, m2 + 1)) AS entry_index,
         m9 FROM d WHERE doc_id % 2 = 1
),
url_rows AS (
  SELECT doc_id, kind, CAST(entry_index AS INT) AS entry_index,
         CASE entry_index
           WHEN 0 THEN 'http://site' || doc_id || '.com/p0'
           WHEN 1 THEN 'http://site' || doc_id || '.com/p1?a=1&b=2'
           ELSE 'http://site' || doc_id || '.com/c?x=1&y=2' END AS loc,
         CASE entry_index
           WHEN 0 THEN '2024-01-01'
           WHEN 2 THEN '2024-02-02' END AS lastmod,
         CASE entry_index
           WHEN 0 THEN (m9 + 1) / 10.0 END AS priority
  FROM u
),
idx_rows AS (
  SELECT doc_id, kind, CAST(entry_index AS INT) AS entry_index,
         'http://site' || doc_id || '.com/sitemap' || entry_index
           || '.xml.gz' AS loc,
         '2024-03-0' || entry_index + 1 AS lastmod,
         CAST(NULL AS DOUBLE) AS priority
  FROM s
)
SELECT * FROM url_rows UNION ALL SELECT * FROM idx_rows
ORDER BY doc_id, entry_index
"""


@register("web_sitemap_parse", oracle=_SITEMAP_ORACLE)
def web_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (``operators/web.py:parse_sitemap``) under a
    closed-form gate: namespaced ``urlset`` documents (full entry,
    entity-encoded loc with absent optional fields, CDATA loc that must
    stay VERBATIM) and ``sitemapindex`` documents (refs to more
    sitemaps) are constructed in-plan; the oracle states every parsed
    field. A kind misdetection, an entity decode inside CDATA, a missed
    decode outside it, a phantom row from an absent field, or an
    entry-order shift lands on different rows.

    Scale: tolerant regexp parse in pure codegen (the docstring records
    why NOT Hive xpath: it aborts the job on the first malformed
    fragment) — one scan + one-to-many explode over a crawl's sitemap
    corpus, no shuffle."""
    from etl_lala_spark.operators.web import parse_sitemap

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    ds = F.col("doc_id").cast("string")
    p = ((F.col("doc_id") % 9) + 1).cast("string")
    e0 = F.concat(
        F.lit("<url><loc>http://site"), ds,
        F.lit(".com/p0</loc><lastmod>2024-01-01</lastmod><priority>0."), p,
        F.lit("</priority></url>"),
    )
    e1 = F.concat(
        F.lit('<url data-x="1"><loc>http://site'), ds,
        F.lit(".com/p1?a=1&amp;b=2</loc></url>"),
    )
    e2 = F.concat(
        F.lit("<url><loc><![CDATA[http://site"), ds,
        F.lit(".com/c?x=1&y=2]]></loc><lastmod>2024-02-02</lastmod></url>"),
    )
    urlset = F.concat(
        F.lit('<?xml version="1.0"?><urlset'
              ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        e0,
        F.when(F.col("doc_id") % 3 >= 1, e1).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 >= 2, e2).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    idx = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex'
              ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), F.col("doc_id") % 2),
                lambda i: F.concat(
                    F.lit("<sitemap><loc>http://site"), ds,
                    F.lit(".com/sitemap"), i.cast("string"),
                    F.lit(".xml.gz</loc><lastmod>2024-03-0"),
                    (i + 1).cast("string"),
                    F.lit("</lastmod></sitemap>"),
                ),
            ),
        ),
        F.lit("</sitemapindex>"),
    )
    xml = F.when(F.col("doc_id") % 2 == 0, urlset).otherwise(idx)
    return (
        parse_sitemap(d.select("doc_id", xml.alias("xml")))
        .select("doc_id", "kind", "entry_index", "loc", "lastmod", "priority")
        .orderBy("doc_id", "entry_index")
    )


# One URL variant per doc per class; canonicalization collapses the variant
# noise (case, www, default port, tracking params, unsorted query, dup
# slashes) so every class's SURT is closed-form.
_SURT_ORACLE = """
WITH d AS (SELECT doc_id, doc_id % 5 AS k FROM documents WHERE doc_id < 250)
SELECT doc_id,
       CASE k
         WHEN 0 THEN 'com,example,shop)/aisle' || doc_id
         WHEN 1 THEN 'org,archive)/item' || doc_id || '?a=1&b=2'
         WHEN 2 THEN 'uk,co,news)/story' || doc_id
         WHEN 3 THEN 'com,example)/'
         ELSE NULL END AS surt
FROM d
ORDER BY doc_id
"""


@register("web_surt_keys", oracle=_SURT_ORACLE)
def web_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT key generation (``functions/scalars.py:surt_key``) — the
    missing half of index-first crawling: ``web_cdx_select`` parses the
    index's SURT keys, this gate proves OUR urls map onto the same key
    space, so corpus-vs-index joins are one equality join. URL variants
    per class (cased host + default port, unsorted query with a tracking
    param, two-label public-suffix host, bare origin with duplicate
    slashes, and an invalid URL → NULL) each collapse to a closed-form
    key."""
    from etl_lala_spark.functions.scalars import surt_key

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    ds = F.col("doc_id").cast("string")
    k = F.col("doc_id") % 5
    url = (
        F.when(k == 0, F.concat(F.lit("http://Shop.Example.COM:80/aisle"), ds))
        .when(k == 1, F.concat(F.lit("https://www.archive.org/item"), ds,
                               F.lit("?b=2&utm_source=x&a=1")))
        .when(k == 2, F.concat(F.lit("http://news.co.uk/story"), ds))
        .when(k == 3, F.lit("http://example.com//"))
        .otherwise(F.lit("not a url"))
    )
    return d.select("doc_id", surt_key(url).alias("surt")).orderBy("doc_id")


# Old snapshot covers docs 0..199, new covers 50..249; content changed for
# doc % 3 == 0 → 0..49 vanished, 200..249 added, the overlap changed /
# unchanged by digest.
_CDX_DELTA_ORACLE = """
SELECT 'com,example)/doc' || doc_id AS surt,
       CASE WHEN doc_id < 50 THEN 'vanished'
            WHEN doc_id >= 200 THEN 'added'
            WHEN doc_id % 3 = 0 THEN 'changed'
            ELSE 'unchanged' END AS change,
       CASE WHEN doc_id < 200
            THEN CAST(20240101000000 + doc_id AS BIGINT) END AS old_ts,
       CASE WHEN doc_id >= 50
            THEN CAST(20240601000000 + doc_id AS BIGINT) END AS new_ts,
       CASE WHEN doc_id < 200 THEN 'sha1:A' || doc_id END AS old_digest,
       CASE WHEN doc_id >= 50 THEN
         CASE WHEN doc_id % 3 = 0 THEN 'sha1:B' ELSE 'sha1:A' END || doc_id
       END AS new_digest
FROM documents WHERE doc_id < 250
ORDER BY surt
"""


def _cdx_snapshot_lines(d: DataFrame, ts_base: int, digest: F.Column) -> DataFrame:
    """One good CDXJ line per doc: ts = ts_base + doc_id, closed-form
    capture metadata, the given digest expression."""
    ds = F.col("doc_id").cast("string")
    return d.select(
        F.concat(
            F.lit("com,example)/doc"), ds, F.lit(" "),
            (F.lit(ts_base) + F.col("doc_id")).cast("string"),
            F.lit(' {"url": "http://example.com/doc'), ds,
            F.lit('", "mime": "text/html", "status": "200", "digest": "'),
            digest,
            F.lit('", "length": "500", "offset": "'), (F.col("doc_id") * 100).cast("string"),
            F.lit('", "filename": "crawl/seg'), (F.col("doc_id") % 4).cast("string"),
            F.lit('.warc.gz"}'),
        ).alias("line")
    )


@register("web_cdx_delta", oracle=_CDX_DELTA_ORACLE)
def web_cdx_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl delta (``operators/web.py:cdx_snapshot_delta``): two crawl
    snapshots flow through the real parse → select pipeline, then a
    key-grain full-outer digest compare labels every SURT added /
    vanished / changed / unchanged — the incremental-crawl planning stage
    that turns a monthly full refetch into a delta-sized one (feed the
    added+changed slice into ``cdx_fetch_plan``). The oracle states every
    label and both snapshots' timestamps/digests closed-form; a join that
    drops one side, a digest compare with NULL leakage, or a label swap
    lands on different rows.

    Scale: both inputs are one-row-per-key selections, so the full-outer
    join shuffles the KEY space only — never captures, never content."""
    from etl_lala_spark.operators.web import (
        cdx_snapshot_delta,
        parse_cdxj,
        select_captures,
    )

    docs = load_table(spark, sf_dir, "documents")
    ds = F.col("doc_id").cast("string")
    old = select_captures(parse_cdxj(_cdx_snapshot_lines(
        docs.filter(F.col("doc_id") < 200), 20240101000000,
        F.concat(F.lit("sha1:A"), ds),
    )))
    new = select_captures(parse_cdxj(_cdx_snapshot_lines(
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 250)),
        20240601000000,
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, "sha1:B").otherwise("sha1:A"), ds
        ),
    )))
    return cdx_snapshot_delta(old, new).orderBy("surt")


# Host h = doc % 7 gets one URL per doc — host sizes vary with the doc
# range, so waves per host replay as row_number arithmetic over the known
# per-host URL ordering (path = zero-padded doc id, making lexicographic
# order equal numeric order).
_POLITENESS_ORACLE = """
WITH f AS (
  SELECT doc_id, 'host' || doc_id % 7 || '.example.com' AS host,
         'http://host' || doc_id % 7 || '.example.com/p'
           || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS url
  FROM documents WHERE doc_id < 300
),
r AS (
  SELECT doc_id, url, host,
         row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS host_rank
  FROM f
)
SELECT doc_id, url, host, CAST(host_rank AS INT) AS host_rank,
       CAST(host_rank // 3 AS BIGINT) AS wave
FROM r
ORDER BY doc_id
"""


@register("web_politeness_waves", oracle=_POLITENESS_ORACLE)
def web_politeness_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling (``operators/web.py:politeness_waves``): a
    300-URL frontier over 7 hosts of unequal size, 3 fetches per host per
    wave. The oracle replays the per-host ranking and wave arithmetic
    (zero-padded paths make the deterministic order SQL-replayable); a
    rank off-by-one, a global (non-per-host) numbering, or a wrong wave
    division lands on different rows."""
    from etl_lala_spark.operators.web import politeness_waves

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    url = F.concat(
        F.lit("http://host"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    return (
        politeness_waves(d.select("doc_id", url.alias("url")), per_host_per_wave=3)
        .select("doc_id", "url", "host", "host_rank", "wave")
        .orderBy("doc_id")
    )


# Each page carries one anchor per class: markup-wrapped text (tags stripped,
# whitespace collapsed), an entity-encoded text, an image-only anchor (NULL
# text, row kept), and a relative href (resolved against the page base).
_ANCHORS_ORACLE = """
WITH d AS (SELECT doc_id, doc_id % 3 AS m FROM documents WHERE doc_id < 200),
a AS (
  SELECT doc_id, unnest(range(0, 4)) AS j, m FROM d
)
SELECT doc_id,
       CASE j
         WHEN 0 THEN 'http://hub.example.com/t' || doc_id
         WHEN 1 THEN 'http://hub.example.com/e' || doc_id
         WHEN 2 THEN 'http://hub.example.com/img' || doc_id
         ELSE 'http://site' || m || '.example.com/dir/rel' || doc_id END AS link,
       CASE j
         WHEN 0 THEN 'Read the full story ' || doc_id
         WHEN 1 THEN 'Q&A <live> now'
         WHEN 2 THEN NULL
         ELSE 'rel ' || doc_id END AS anchor_text
FROM a
ORDER BY doc_id, link
"""


@register("web_anchor_texts", oracle=_ANCHORS_ORACLE)
def web_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text extraction (``operators/web.py:extract_anchors``) —
    (anchor_text, link) pairs are DPR-family weak supervision and the
    per-target anchor aggregate is a retrieval prior. Four anchors per
    constructed page: markup inside the anchor (stripped to spaced text),
    entity-encoded text (&amp;/&lt;/&gt; decode), an image-only anchor
    (NULL text, row KEPT — dropping it would bias the link graph), and a
    relative href resolved against the page base. The oracle states every
    (link, text) pair closed-form."""
    from etl_lala_spark.operators.web import extract_anchors

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    ds = F.col("doc_id").cast("string")
    m = (F.col("doc_id") % 3).cast("string")
    html = F.concat(
        F.lit('<html><body><a href="http://hub.example.com/t'), ds,
        F.lit('"> Read <b>the</b>\n  full <i>story</i> '), ds,
        F.lit('</a><a href="http://hub.example.com/e'), ds,
        F.lit('">Q&amp;A &lt;live&gt; now</a>'),
        F.lit('<a href="http://hub.example.com/img'), ds,
        F.lit('"><img src="x.png"/></a>'),
        F.lit('<a href="rel'), ds, F.lit('">rel '), ds,
        F.lit("</a></body></html>"),
    )
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("http://site"), m, F.lit(".example.com/dir/page.html")
        ).alias("url"),
        html.alias("html"),
    )
    return (
        extract_anchors(pages)
        .select("doc_id", "link", "anchor_text")
        .orderBy("doc_id", "link")
    )


# Per-doc page variants: k=0 full metadata (attribute order flipped on the
# description tag, cased names), k=1 noindex,follow robots, k=2 titled page
# with entities + whitespace run, k=3 bare page (all NULL/false).
_PAGE_META_ORACLE = """
WITH d AS (SELECT doc_id, doc_id % 4 AS k FROM documents WHERE doc_id < 300)
SELECT doc_id,
       CASE k WHEN 0 THEN 'Doc ' || doc_id
              WHEN 1 THEN 'Hidden ' || doc_id
              WHEN 2 THEN 'A & B <fine> ' || doc_id END AS title,
       CASE k WHEN 0 THEN 'All about doc ' || doc_id END AS meta_description,
       CASE k WHEN 0 THEN 'http://example.com/canonical/' || doc_id
         END AS canonical_url,
       k = 1 AS robots_noindex,
       CASE k WHEN 0 THEN 'en' WHEN 2 THEN 'pt-br' END AS html_lang
FROM d
ORDER BY doc_id
"""


@register("web_page_meta", oracle=_PAGE_META_ORACLE)
def web_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-metadata extraction (``operators/web.py:extract_page_meta``):
    title (entities + whitespace normalization), meta description with
    FLIPPED attribute order and cased names, ``<link rel=canonical>``
    (the site's own dedup hint), ``noindex`` detection inside a
    multi-token robots value, and the ``<html lang>`` claim (lowercased).
    The oracle states every field per page class; a field read from the
    wrong attribute, a substring noindex match ('noindexing' must not
    trip), or a missed entity decode lands on different rows."""
    from etl_lala_spark.operators.web import extract_page_meta

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ds = F.col("doc_id").cast("string")
    k = F.col("doc_id") % 4
    html = (
        F.when(k == 0, F.concat(
            F.lit('<html lang="EN"><head><title>Doc '), ds,
            F.lit('</title><META content="All about doc '), ds,
            F.lit('" name="description"><link rel="canonical"'
                  ' href="http://example.com/canonical/'), ds,
            F.lit('"></head><body>x</body></html>'),
        ))
        .when(k == 1, F.concat(
            F.lit("<html><head><title>Hidden "), ds,
            F.lit('</title><meta name="robots" content="noindex, follow">'
                  "</head><body>x</body></html>"),
        ))
        .when(k == 2, F.concat(
            F.lit('<html LANG="pt-BR"><head><title>  A &amp; B &lt;fine&gt;\n'
                  "   "), ds,
            F.lit('</title><meta name="robots" content="noindexing-tool">'
                  "</head><body>x</body></html>"),
        ))
        .otherwise(F.lit("<html><head></head><body>plain</body></html>"))
    )
    return (
        extract_page_meta(d.select("doc_id", html.alias("html")))
        .select(
            "doc_id", "title", "meta_description", "canonical_url",
            "robots_noindex", "html_lang",
        )
        .orderBy("doc_id")
    )


# Sitemap entry 0 is fetchable, entry 1 sits under a robots-disallowed
# prefix; docs % 4 == 0 are already in the seen store. Survivors and their
# politeness waves replay as SQL over the same construction (string-order
# ranking is byte-wise ASCII on both engines).
_CRAWL_SCHEDULE_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 3 AS h FROM documents
  WHERE doc_id < 120 AND doc_id % 4 <> 0
),
f AS (
  SELECT 'http://host' || h || '.example.com/ok/p' || doc_id AS url,
         'host' || h || '.example.com' AS host
  FROM d
),
r AS (
  SELECT url, host,
         row_number() OVER (PARTITION BY host ORDER BY url) - 1 AS host_rank
  FROM f
)
SELECT url, host, CAST(host_rank AS INT) AS host_rank,
       CAST(host_rank // 2 AS BIGINT) AS wave
FROM r
ORDER BY url
"""


@register("web_crawl_schedule", oracle=_CRAWL_SCHEDULE_ORACLE)
def web_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl scheduling chain END TO END, every stage the real
    operator: sitemap parse (seed discovery) → ``canonicalize_url`` →
    robots filter (a ``Disallow: /private/`` prefix kills sitemap entry
    1) → seen-store anti-join (docs % 4 == 0 already fetched; the exact
    join is the correctness path the Bloom bitmap merely caches, see
    ``stream_twin_url_frontier``) → ``politeness_waves`` (2 fetches per
    host per wave). The oracle replays the surviving URL set and every
    (host_rank, wave) assignment. Composition is the point: a stage that
    canonicalizes differently from the seen store, leaks a disallowed
    path, or ranks pre-filter rows lands on different rows.

    Scale: one sitemap scan + explode, one broadcast robots join, one
    key-grain anti-join, one per-host window — the frontier is shuffled
    exactly twice (seen-join key, host window), never the corpus."""
    from etl_lala_spark.functions.scalars import canonicalize_url
    from etl_lala_spark.operators.web import (
        parse_robots,
        parse_sitemap,
        politeness_waves,
        robots_allowed,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    ds = F.col("doc_id").cast("string")
    h = (F.col("doc_id") % 3).cast("string")
    xml = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<url><loc>http://host"), h, F.lit(".example.com/ok/p"), ds,
        F.lit("</loc></url><url><loc>http://host"), h,
        F.lit(".example.com/private/s"), ds,
        F.lit("</loc></url></urlset>"),
    )
    entries = parse_sitemap(d.select("doc_id", xml.alias("xml")))
    urls = entries.select(
        "doc_id", canonicalize_url(F.col("loc")).alias("url")
    ).filter(F.col("url").isNotNull())
    robots = spark.createDataFrame(
        [(f"host{i}.example.com", "User-agent: *\nDisallow: /private/")
         for i in range(3)],
        "host string, robots_txt string",
    )
    with_parts = urls.withColumn(
        "host", F.lower(F.try_parse_url("url", F.lit("HOST")))
    ).withColumn("path", F.try_parse_url("url", F.lit("PATH")))
    allowed = (
        robots_allowed(with_parts, parse_robots(robots))
        .filter(F.col("allowed"))
        .drop("allowed", "matched_rule", "host", "path")
    )
    seen = d.filter(F.col("doc_id") % 4 == 0).select(
        F.concat(
            F.lit("http://host"), h, F.lit(".example.com/ok/p"), ds
        ).alias("url")
    )
    frontier = allowed.join(seen, "url", "left_anti")
    return (
        politeness_waves(frontier, per_host_per_wave=2)
        .select("url", "host", "host_rank", "wave")
        .orderBy("url")
    )


# Host h = doc % 5: one Sitemap directive inside a User-agent group (group
# independence), one cased SITEMAP: directive outside any group for h % 2
# == 0, a commented-out directive that must NOT surface, and a duplicate
# that must collapse.
_ROBOTS_SITEMAPS_ORACLE = """
WITH h AS (SELECT DISTINCT doc_id % 5 AS h FROM documents WHERE doc_id < 200),
rows_ AS (
  SELECT 'host' || h || '.example.com' AS host,
         'http://host' || h || '.example.com/sitemap.xml' AS sitemap_url
  FROM h
  UNION ALL
  SELECT 'host' || h || '.example.com',
         'http://host' || h || '.example.com/news.xml.gz'
  FROM h WHERE h % 2 = 0
)
SELECT host, sitemap_url FROM rows_ ORDER BY host, sitemap_url
"""


@register("web_robots_sitemaps", oracle=_ROBOTS_SITEMAPS_ORACLE)
def web_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt
    (``operators/web.py:robots_sitemaps``) — the hop that closes the
    seed-discovery loop (robots → sitemap URL → ``parse_sitemap`` →
    frontier). Directives appear inside a User-agent group (they are
    group-independent per the protocol), as a CASED ``SITEMAP:`` outside
    any group, commented out (must not surface), and duplicated (must
    collapse). The oracle states the (host, url) set closed-form."""
    from etl_lala_spark.operators.web import robots_sitemaps

    # exactly one robots row per host: docs 0..4 ARE the five hosts
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    h = F.col("doc_id").cast("string")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private/\nSitemap: http://host"), h,
        F.lit(".example.com/sitemap.xml\n# Sitemap: http://host"), h,
        F.lit(".example.com/ignored.xml\nSitemap: http://host"), h,
        F.lit(".example.com/sitemap.xml\n"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("\nSITEMAP:   http://host"), h,
                F.lit(".example.com/news.xml.gz"),
            ),
        ).otherwise(F.lit("")),
    )
    robots = d.select(
        F.concat(F.lit("host"), h, F.lit(".example.com")).alias("host"),
        txt.alias("robots_txt"),
    )
    return robots_sitemaps(robots).orderBy("host", "sitemap_url")


# k = doc % 4: header charset (quoted, cased — wins over a conflicting
# meta), bare meta charset, legacy http-equiv (a stray body 'charset='
# must NOT win), nothing → default. Every resolution stated closed-form.
_CHARSET_ORACLE = """
WITH d AS (SELECT doc_id, doc_id % 4 AS k FROM documents WHERE doc_id < 200)
SELECT doc_id,
       CASE k WHEN 0 THEN 'iso-8859-1'
              WHEN 1 THEN 'windows-1252'
              WHEN 2 THEN 'shift_jis'
              ELSE 'utf-8' END AS charset,
       CASE k WHEN 0 THEN 'header'
              WHEN 1 THEN 'meta'
              WHEN 2 THEN 'http_equiv'
              ELSE 'default' END AS charset_source
FROM d
ORDER BY doc_id
"""


@register("web_charset_detect", oracle=_CHARSET_ORACLE)
def web_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset resolution (``operators/web.py:detect_charset``) in the
    WHATWG precedence order: a quoted, cased header parameter beats a
    conflicting ``<meta charset>``; a bare meta charset beats the legacy
    http-equiv form; a stray ``charset=`` in body text never wins; no
    declaration resolves to the default. Feeds the mojibake-repair
    decision (declared-vs-decoded mismatch is the repair signature)."""
    from etl_lala_spark.operators.web import detect_charset

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    k = F.col("doc_id") % 4
    ct = (
        F.when(k == 0, F.lit('text/html; charset="ISO-8859-1"'))
        .otherwise(F.lit("text/html"))
    )
    html = (
        F.when(k == 0, F.lit('<html><head><meta charset="utf-8"></head>x</html>'))
        .when(k == 1, F.lit("<html><head><META CHARSET=windows-1252></head></html>"))
        .when(k == 2, F.lit(
            '<html><head><meta http-equiv="Content-Type"'
            ' content="text/html; charset=Shift_JIS"></head>'
            "<body>the word charset=fake appears in text</body></html>"))
        .otherwise(F.lit("<html><body>charset=decoy only in body</body></html>"))
    )
    return (
        detect_charset(d.select("doc_id", ct.alias("content_type"), html.alias("html")))
        .select("doc_id", "charset", "charset_source")
        .orderBy("doc_id")
    )


# Hosts 0..4: host h declares Crawl-delay h*2 (host 0's directives are a
# non-numeric value and a commented line — both ignored, default applies);
# host 3 declares two values (3 and 6 — the conservative max wins). URL u
# of host h lands in wave u // 2. A DECLARED delay serializes the host at
# host_rank * delay (wave-based offsets would authorize per_host_per_wave
# same-host hits at one instant, violating the declaration); only the
# undeclared-default host keeps wave * default parallelism.
_CRAWL_DELAY_ORACLE = """
WITH hosts AS (SELECT unnest(range(0, 5)) AS h),
urls AS (
  SELECT h, unnest(range(0, 6)) AS u FROM hosts
),
sched AS (
  SELECT 'http://host' || h || '.example.com/p' || u AS url,
         'host' || h || '.example.com' AS host,
         CAST(u AS INT) AS host_rank,
         CAST(u // 2 AS BIGINT) AS wave,
         CASE WHEN h = 0 THEN NULL
              WHEN h = 3 THEN 6.0
              ELSE h * 2.0 END AS delay
  FROM urls
)
SELECT url, host, host_rank, wave,
       CAST(round(CASE WHEN delay IS NULL THEN wave * 1.0
                       ELSE host_rank * delay END, 6) AS DOUBLE)
         AS not_before_s
FROM sched
ORDER BY url
"""


@register("web_politeness_schedule", oracle=_CRAWL_DELAY_ORACLE)
def web_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-aware crawl scheduling: ``robots_crawl_delays`` (non-numeric
    and commented directives ignored, duplicate directives resolve to the
    conservative max, absent hosts take the default) feeding
    ``politeness_schedule`` (declared delay → host_rank × delay strict
    serialization; undeclared default → wave × default parallelism). Five
    hosts with six URLs each, two fetches per wave; the oracle replays
    every ``not_before_s`` offset. URLs use 0-padded-free single digits
    so string rank order equals numeric order."""
    from etl_lala_spark.operators.web import (
        politeness_schedule,
        robots_crawl_delays,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    h = (F.col("doc_id") % 5).cast("string")
    u = (F.col("doc_id") / 5).cast("int").cast("string")
    frontier = d.select(
        F.concat(
            F.lit("http://host"), h, F.lit(".example.com/p"), u
        ).alias("url")
    )
    robots = spark.createDataFrame(
        [
            ("host0.example.com",
             "Crawl-delay: fast\n# Crawl-delay: 9\nUser-agent: *\nDisallow:"),
            ("host1.example.com", "User-agent: *\nCrawl-delay: 2"),
            ("host2.example.com", "crawl-delay:4"),
            ("host3.example.com", "Crawl-delay: 3\nCrawl-delay: 6"),
            ("host4.example.com", "CRAWL-DELAY: 8.0"),
        ],
        "host string, robots_txt string",
    )
    sched = politeness_schedule(
        frontier, robots_crawl_delays(robots), per_host_per_wave=2,
        default_delay_s=1.0,
    )
    return sched.select(
        "url", "host", "host_rank", "wave", "not_before_s"
    ).orderBy("url")


# The complete index-first loop: real WARC files on disk, a CDX index with
# REAL byte offsets, capture selection, ranged HTTP fetch of ONLY the
# selected members over loopback, WARC record extraction, digest check.
# Response i of doc d carries body 'doc{d}:record{i};' (i even → selected);
# files of docs % 10 == 0 are served WITHOUT range support (200-prefix
# fallback), all others honor Range (206).
_CDX_RANGED_ORACLE = """
WITH m AS (
  SELECT d.doc_id, i.i
  FROM (SELECT doc_id FROM documents WHERE doc_id < 40) d, range(0, 3) i(i)
  WHERE i.i <= d.doc_id % 3 AND i.i % 2 = 0
),
c AS (
  SELECT doc_id, i, 'doc' || doc_id || ':record' || i || ';' AS body FROM m
)
SELECT 'com,example)/doc' || doc_id || '/page' || i AS surt,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 200 ELSE 206 END AS INT)
         AS fetch_status,
       CAST(200 AS INT) AS http_status,
       CAST(strlen(body) AS BIGINT) AS n_payload_bytes,
       md5(body) AS digest
FROM c
ORDER BY surt
"""


@register("web_cdx_ranged_fetch", oracle=_CDX_RANGED_ORACLE)
def web_cdx_ranged_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common Crawl access pattern END TO END over real I/O: WARC
    files written to disk (warcinfo + request/response members, every
    record its own gzip member), a CDXJ index carrying the files' REAL
    byte offsets, ``parse_cdxj`` → ``select_captures`` (only the 200 +
    text/html captures survive), ``sources/fetch.py:fetch_ranges``
    pulling ONLY the selected members' byte ranges over live loopback
    HTTP (files of docs % 10 == 0 are served by a range-less 200 handler
    — the local-slice fallback path — all others get true 206 partial
    content), and ``extract_warc_records`` decoding each fetched member
    back to its HTTP payload. The oracle states per selected capture the
    fetch path taken (206 vs 200), the ARCHIVED HTTP status, the payload
    size, and its md5 — a wrong offset in the index, an off-by-one range,
    a fallback slice error, or a member decoded from the wrong position
    lands on a different hash.

    Scale: this gate IS the 100 TB argument — bytes moved = Σ selected
    member lengths (the point of index-first access); the fetch runs in the
    JVM in the plan's own tasks, and extraction is the same Arrow-batched
    one-to-many kernel as ``web_warc_extract``."""
    import gzip
    import re as _re

    from etl_lala_spark.operators.web import parse_cdxj, select_captures
    from etl_lala_spark.plans._gates import (
        fixture_region,
        gate_workdir,
        loopback_server,
        ranged_file_handler,
        shuffle_width,
    )
    from etl_lala_spark.sources.fetch import fetch_ranges
    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        http_response_bytes,
        warc_record_bytes,
    )

    with fixture_region("web_cdx_ranged_fetch"):
        work = gate_workdir(spark, "web_cdx_ranged_fetch")
        warcdir = os.path.join(work, "warcs")
        os.makedirs(warcdir)
        doc_ids = [
            int(r["doc_id"])
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40)
            .select("doc_id")
            .collect()
        ]
        cdx_lines = []
        for d in sorted(doc_ids):
            members = [
                gzip.compress(
                    warc_record_bytes("warcinfo", b"software: etl-lala-gate"),
                    compresslevel=1,
                )
            ]
            caps = []  # (i, offset, length) of response members
            pos = len(members[0])
            for i in range(d % 3 + 1):
                uri = f"http://example.com/doc{d}/page{i}"
                req = gzip.compress(
                    warc_record_bytes("request", b"GET / HTTP/1.1",
                                      target_uri=uri),
                    compresslevel=1,
                )
                body = (f"doc{d}:record{i};" * (i % 2 + 1)).encode()
                status = 200 if i % 2 == 0 else 404
                resp = gzip.compress(
                    warc_record_bytes(
                        "response", http_response_bytes(status, body),
                        target_uri=uri,
                    ),
                    compresslevel=1,
                )
                pos += len(req)
                caps.append((i, status, pos, len(resp)))
                pos += len(resp)
                members.extend([req, resp])
            with open(os.path.join(warcdir, f"crawl{d}.warc.gz"), "wb") as fh:
                fh.write(b"".join(members))
            for i, status, off, ln in caps:
                cdx_lines.append(
                    f"com,example)/doc{d}/page{i} 2024010100{i:04d} "
                    f'{{"url": "http://example.com/doc{d}/page{i}",'
                    f' "mime": "text/html", "status": "{status}",'
                    f' "digest": "sha1:D{d}C{i}", "length": "{ln}",'
                    f' "offset": "{off}",'
                    f' "filename": "crawl{d}.warc.gz"}}'
                )

    class Handler(ranged_file_handler(warcdir)):
        def do_GET(self):
            data = self.read_file()
            if data is None:
                return
            d = int(_re.search(r"crawl(\d+)\.warc\.gz$", self.path).group(1))
            rng = self.headers.get("Range")
            if rng and d % 10 != 0:
                m = _re.match(r"bytes=(\d+)-(\d+)$", rng)
                lo, hi = int(m.group(1)), int(m.group(2))
                body = data[lo : hi + 1]
                self.send_response(206)
                self.send_header(
                    "Content-Range", f"bytes {lo}-{hi}/{len(data)}"
                )
            else:
                body = data  # range-less server: full body, client slices
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    # ≤80-capture planting end to end: run selection, fetch and the digest
    # join at a matching shuffle width — this also sizes the fetch leg,
    # whose task count is select_captures' shuffle output width.
    with shuffle_width(spark, 8), loopback_server(Handler) as base:
        idx = spark.createDataFrame([(x,) for x in cdx_lines], "line string")
        sel = select_captures(parse_cdxj(idx)).withColumn(
            "url", F.concat(F.lit(f"{base}/"), F.col("filename"))
        )
        fetched = fetch_ranges(
            sel.select("url", "offset", "length"), max_bytes=1 << 20
        )
        got = fetched.filter(F.col("status") == "ok")
        recs = extract_warc_records(
            got.select(
                F.concat("url", F.lit("#"), F.col("offset").cast("string")).alias(
                    "path"
                ),
                F.col("content"),
            ).withColumnRenamed("path", "path"),
            types=("response",),
        )
        out = (
            recs.select(
                F.concat(
                    F.lit("com,example)"),
                    F.regexp_extract("target_uri", r"(/doc\d+/page\d+)$", 1),
                ).alias("surt"),
                "http_status",
                F.col("n_payload_bytes"),
                F.md5("payload").alias("digest"),
                "file",
            )
            .join(
                got.select(
                    F.concat(
                        "url", F.lit("#"), F.col("offset").cast("string")
                    ).alias("file"),
                    "fetch_status",
                ),
                "file",
            )
            .select(
                "surt", "fetch_status", "http_status", "n_payload_bytes",
                "digest",
            )
        )
        # materialize while the loopback server is alive (the returned
        # DataFrame is lazy)
        out.write.mode("overwrite").parquet(os.path.join(work, "out"))
    return spark.read.parquet(os.path.join(work, "out")).orderBy("surt")


# --- end-to-end corpus build: the whole crawl-to-shards chain ----------------
#
# The integration seam a real user's first run hits (round-9 verdict task 3):
# CDX index -> capture selection -> ranged fetch over live loopback HTTP ->
# WARC record extraction -> charset resolution -> HTML main-content
# extraction -> MinHash near-dup dedup (task 5: the FineWeb per-snapshot
# stage) -> sentence split -> cross-doc line dedup -> Gopher quality rules ->
# C4 badword filter -> TRAINED language-ID -> seeded shard export. Every
# stage is the real operator; every count is closed-form from the planting
# arithmetic.
#
# Planting: 32 docs in 8 content clusters of 4 EXACT-copy members (doc d's
# cluster is d % 8; identical text makes MinHash recovery an invariant, the
# audit_minhash_planted discipline), each page captured at TWO URLs that
# differ only by www + a utm tracking param (distinct CDX SURTs, one
# canonical URL), each URL with 3 captures (two 200s, newest-good wins, plus
# a NEWER 404 decoy the selector must skip). Cluster languages cycle
# en/de/es (c % 3) so the 6 final docs train a BALANCED 3-class model —
# 4-language cycling left es/fr with one positive each and one-vs-rest
# argmax collapsed them into the majority classes. Cluster 6 carries a
# planted badword, cluster 7 is sub-threshold short; the boilerplate
# sentence is shared by all 32 docs so cross-doc line dedup must remove
# exactly one line per surviving doc.

_CB_BOIL = (
    "it is a good page and you should share it with all of the friends"
    " today."
)
_CB_LANGS = ["en", "de", "es"]


def _cb_t_sent(c: int) -> str:
    return (
        f"it is the c{c}a of the c{c}b and the c{c}c to the c{c}d"
        f" in the c{c}e"
    )


def _cb_paras(c: int) -> list[str]:
    from etl_lala_spark.plans.llm_text import _LANGID_BASE, _MC_PARA

    b = _LANGID_BASE[_CB_LANGS[c % 3]]
    if c == 7:
        return [f"it is {b} and it is a c{c}b.", _CB_BOIL]
    mark = "zonkword " if c == 6 else ""
    return [
        f"{_MC_PARA} {_cb_t_sent(c)}.",
        f"it is {b} and it is a {mark}c{c}b.",
        _CB_BOIL,
    ]


def _cb_survivor_shard_cte() -> tuple[int, str]:
    """(total survivor bytes, shard-packing CTE block) shared by BOTH
    corpus-build oracles — the cold-crawl chain and the WET-first variant
    deliberately produce BYTE-IDENTICAL survivors (clean_text of doc c =
    G1 "\\n" G2 from the shared literals, all ASCII), so one source of
    truth keeps the two gates provably in lockstep: a planting or
    packing-rule change updates both or fails both."""
    from etl_lala_spark.plans.llm_text import _LANGID_BASE, _MC_PARA

    len_g1 = len(_MC_PARA) + 1 + len(_cb_t_sent(0)) + 1
    per_lang = {lang: 6 + len(_LANGID_BASE[lang]) + 17 for lang in _CB_LANGS}
    shard_bytes_total = sum(
        len_g1 + 1 + per_lang[_CB_LANGS[c % 3]] for c in range(6)
    )
    cte = f"""docs AS (
  SELECT c,
         {len_g1} + 1 + CASE c % 3 WHEN 0 THEN {per_lang['en']}
                                   WHEN 1 THEN {per_lang['de']}
                                   ELSE {per_lang['es']} END AS bytes
  FROM range(0, 6) t(c)
),
keyed AS (SELECT c, bytes, md5('corpus:' || c) AS k FROM docs),
cum AS (
  SELECT bytes,
         sum(bytes) OVER (ORDER BY k, c ROWS UNBOUNDED PRECEDING) AS cum
  FROM keyed
),
shards AS (
  SELECT count(DISTINCT (cum - bytes) // 480) AS n_shards FROM cum
)"""
    return shard_bytes_total, cte


def _corpus_build_oracle() -> str:
    shard_bytes_total, shard_cte = _cb_survivor_shard_cte()
    return f"""
WITH n AS (SELECT count(*) AS nd FROM documents WHERE doc_id < 32),
{shard_cte}
SELECT * FROM (
  SELECT 0 AS stage_ord, 'cdx_lines' AS stage,
         CAST(nd * 6 AS BIGINT) AS n FROM n
  UNION ALL SELECT 1, 'cdx_selected', CAST(nd * 2 AS BIGINT) FROM n
  UNION ALL SELECT 2, 'fetched_ok', CAST(nd * 2 AS BIGINT) FROM n
  UNION ALL SELECT 3, 'warc_responses', CAST(nd * 2 AS BIGINT) FROM n
  UNION ALL SELECT 4, 'charset_header', CAST(nd AS BIGINT) FROM n
  UNION ALL SELECT 5, 'charset_meta', CAST(nd AS BIGINT) FROM n
  UNION ALL SELECT 6, 'url_unique', CAST(nd AS BIGINT) FROM n
  UNION ALL SELECT 7, 'neardup_pairs', CAST(48 AS BIGINT)
  UNION ALL SELECT 8, 'dedup_survivors', CAST(8 AS BIGINT)
  UNION ALL SELECT 9, 'sentences', CAST(23 AS BIGINT)
  UNION ALL SELECT 10, 'boiler_lines_removed', CAST(8 AS BIGINT)
  UNION ALL SELECT 11, 'gopher_keep', CAST(7 AS BIGINT)
  UNION ALL SELECT 12, 'badword_keep', CAST(6 AS BIGINT)
  UNION ALL SELECT 13, 'langid_diagonal', CAST(6 AS BIGINT)
  UNION ALL SELECT 14, 'langid_offdiag', CAST(0 AS BIGINT)
  UNION ALL SELECT 15, 'shard_docs', CAST(6 AS BIGINT)
  UNION ALL SELECT 16, 'shard_bytes', CAST({shard_bytes_total} AS BIGINT)
  UNION ALL SELECT 17, 'shards', CAST(n_shards AS BIGINT) FROM shards
) ORDER BY stage_ord
"""


@register("web_corpus_build", oracle=_corpus_build_oracle())
def web_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-to-training-shards chain END TO END, one stage-count row
    per pipeline stage: real WARCs on disk + a CDXJ index with real byte
    offsets -> ``parse_cdxj``/``select_captures`` (newest-good beats a
    newer 404 decoy) -> ``fetch_ranges`` over live loopback HTTP ->
    ``extract_warc_records`` -> ``detect_charset`` (header/meta split) ->
    ``canonicalize_url`` URL dedup (www + utm variants collapse) ->
    ``extract_main_content`` -> ``minhash_lsh_pairs`` +
    ``canonical_components`` (8 planted 4-member exact-copy clusters: 48
    pairs, 8 survivors — the FineWeb per-snapshot near-dup stage) ->
    ``split_sentences`` -> cross-doc ``line_dedup`` (the shared boiler
    sentence vanishes from every doc) -> ``gopher_quality_rules`` (the
    short cluster fails) -> ``badword_stats`` (the zonkword cluster drops)
    -> ``langid_train``/``langid_predict`` (balanced 3-language corpus,
    all-diagonal confusion) -> ``shard_assignments`` (seeded md5 packing
    the oracle replays with its own window). A bug in ANY seam — an
    offset off by one, envelope bytes leaking into payload, a dedup
    survivor miscounted, a training regression — lands on a different
    stage count.

    Scale: index-first access moves only selected byte ranges; dedup
    shuffles at key/band grain; filters and splits are codegen scans;
    training is the cached-block treeAggregate loop; export's prefix sum
    is distributed. The stage counts collapse each frame to one integer,
    so the gate's output is O(stages) regardless of corpus size."""
    import gzip

    from etl_lala_spark.functions.scalars import canonicalize_url
    from etl_lala_spark.operators import ml
    from etl_lala_spark.operators.text import extract_main_content
    from etl_lala_spark.operators.web import (
        detect_charset,
        parse_cdxj,
        select_captures,
    )
    from etl_lala_spark.plans._gates import (
        StageLog,
        counted_checkpoint,
        fixture_region,
        gate_workdir,
        loopback_server,
        ranged_file_handler,
        shuffle_width,
    )
    from etl_lala_spark.sources.fetch import fetch_ranges
    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        http_response_bytes,
        warc_record_bytes,
    )

    def page_html(d: int) -> str:
        meta = '<meta charset="utf-8">' if d % 2 else ""
        body = "\n".join(f"<p>{p}</p>" for p in _cb_paras(d % 8))
        return (
            f"<html><head>{meta}</head><body>\n"
            '<script>var a = "<p>not text</p>";</script>\n'
            '<div class="nav"><a href="/">home</a>'
            ' <a href="/about">about us now</a></div>\n'
            f"{body}\n"
            '<div class="footer"><a href="/t">t&amp;c</a>'
            ' <a href="/p">privacy</a> <a href="/c">contact</a></div>\n'
            "</body></html>"
        )

    with fixture_region("web_corpus_build"):
        work = gate_workdir(spark, "web_corpus_build")
        warcdir = os.path.join(work, "warcs")
        os.makedirs(warcdir)
        doc_ids = [
            int(r["doc_id"])
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 32)
            .select("doc_id")
            .collect()
        ]
        cdx_lines = []
        for d in sorted(doc_ids):
            c = d % 8
            html = page_html(d).encode()
            ctype = (
                "text/html; charset=UTF-8" if d % 2 == 0 else "text/html"
            )
            members = [
                gzip.compress(
                    warc_record_bytes("warcinfo", b"software: etl-lala-gate"),
                    compresslevel=1,
                )
            ]
            pos = len(members[0])
            urls = [
                (f"http://www.site{c}.example.com/doc{d}?utm_source=feed",
                 f"com,example,site{c})/doc{d}?utm_source=feed"),
                (f"http://site{c}.example.com/doc{d}",
                 f"com,example,site{c})/doc{d}"),
            ]
            for uri, surt in urls:
                for ts, status, body in (
                    (20230101000000, 200, html),
                    (20240101000000, 200, html),
                    (20250101000000, 404, b"gone"),
                ):
                    resp = gzip.compress(
                        warc_record_bytes(
                            "response",
                            http_response_bytes(
                                status, body, content_type=ctype
                            ),
                            target_uri=uri,
                        ),
                        compresslevel=1,
                    )
                    cdx_lines.append(
                        f'{surt} {ts} {{"url": "{uri}",'
                        f' "mime": "text/html", "status": "{status}",'
                        f' "digest": "sha1:D{d}", "length": "{len(resp)}",'
                        f' "offset": "{pos}",'
                        f' "filename": "crawl{d}.warc.gz"}}'
                    )
                    pos += len(resp)
                    members.append(resp)
            with open(
                os.path.join(warcdir, f"crawl{d}.warc.gz"), "wb"
            ) as fh:
                fh.write(b"".join(members))

    log = StageLog()
    # EVERY frame in this gate is bounded by the 64-capture planting (the
    # gate's own constant, not a data-dependent sniff): run the WHOLE
    # chain — CDX selection and the fetch leg included, not just the tail —
    # at a matching shuffle width. The width also sizes the fetch plan:
    # select_captures' shuffle output is what fetch_ranges runs over, so 64
    # one-row HTTP gets ride 8 tasks instead of 32 with 2 rows each.
    with shuffle_width(spark, 8):
        log("cdx_lines", len(cdx_lines))
        idx = spark.createDataFrame([(x,) for x in cdx_lines], "line string")
        sel = select_captures(parse_cdxj(idx))
        log("cdx_selected", sel.count())

        with loopback_server(ranged_file_handler(warcdir)) as base:
            plan = sel.select(
                F.concat(F.lit(f"{base}/"), F.col("filename")).alias("url"),
                "offset",
                "length",
            )
            fetched = fetch_ranges(plan, max_bytes=1 << 20)
            # materialize while the loopback server is alive (lazy plans
            # would re-fetch after shutdown)
            fetched.filter(F.col("status") == "ok").write.mode(
                "overwrite"
            ).parquet(os.path.join(work, "fetched"))
        ok = spark.read.parquet(os.path.join(work, "fetched"))
        log("fetched_ok", ok.count())

        recs = extract_warc_records(
            ok.select(
                F.concat(
                    "url", F.lit("#"), F.col("offset").cast("string")
                ).alias("path"),
                "content",
            ),
            types=("response",),
        )
        # 64 small rows from here on: collapse to a handful of partitions so
        # the dedup/training stages don't pay a 200-task shuffle per tiny
        # frame in a default-conf session, and pin the fetch fan-out with a
        # checkpoint
        pages = recs.select(
            F.regexp_extract("target_uri", r"/doc(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            "target_uri",
            F.col("http_content_type").alias("content_type"),
            F.col("payload").cast("string").alias("html"),
        ).repartition(4)
        # checkpoint AFTER the charset pass, not before it: detect_charset
        # is 1:1 (it appends charset/charset_source), and three consumers
        # read it (the source histogram, the URL dedup, the main-content
        # chain) — checkpointing `pages` instead re-ran the triple-regex
        # charset scan for each of them
        cs, n = counted_checkpoint(detect_charset(pages))
        log("warc_responses", n)
        by_src = {
            r["charset_source"]: r["n"]
            for r in cs.groupBy("charset_source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        log("charset_header", by_src.get("header", 0))
        log("charset_meta", by_src.get("meta", 0))

        uniq = (
            cs.withColumn(
                "canonical_url", canonicalize_url(F.col("target_uri"))
            )
            .groupBy("canonical_url")
            .agg(F.min(F.struct("target_uri", "doc_id", "html")).alias("_p"))
            .select(
                F.col("_p.doc_id").alias("doc_id"),
                F.col("_p.html").alias("html"),
            )
        )
        # extract_main_content keeps one row per input, so the tail's
        # url_unique count is taken on its output
        final = _curation_tail(
            extract_main_content(uniq).select(
                "doc_id", F.col("content").alias("text")
            ),
            log,
        )

        lang_arr = F.array(*[F.lit(x) for x in _CB_LANGS])
        labeled = final.withColumn(
            "lang_true",
            F.element_at(lang_arr, (F.col("doc_id") % 3 + 1).cast("int")),
        )
        # lr/iters chosen by a margin sweep (not just diagonal/off-diagonal):
        # at lr=16/iters=6 the min true-vs-best-other logit gap across the 6
        # docs is 0.050 vs 0.019 at the lr=4/iters=8 default — 2.6x the
        # robustness headroom against future numeric-path changes, and three
        # fewer training rounds. Deterministic either way (no RNG).
        # One materialized feature frame for train + serve (deterministic
        # map, bit-identical to per-phase rebuilds — same reuse as
        # langid_trained)
        feats = ml.hashed_char_ngram_features(
            labeled, n_buckets=16
        ).localCheckpoint()
        model = ml.langid_train(
            labeled, _CB_LANGS, label_col="lang_true", n_buckets=16, iters=6,
            lr=16.0, feats=feats,
        )
        pred = ml.langid_predict(labeled, model, feats=feats)
        diag = pred.agg(
            F.sum((F.col("pred_lang") == F.col("lang_true")).cast("bigint"))
            .alias("d"),
            F.sum((F.col("pred_lang") != F.col("lang_true")).cast("bigint"))
            .alias("o"),
        ).collect()[0]
        log("langid_diagonal", diag["d"] or 0)
        log("langid_offdiag", diag["o"] or 0)

        _shard_stages(final, log)
    return log.frame(spark)


def _curation_tail(docs: DataFrame, log) -> DataFrame:
    """The curation stages both corpus gates run on their URL-unique
    ``(doc_id, text)`` frame: MinHash near-dup -> sentence split ->
    cross-doc line dedup -> Gopher -> badwords. Logs ``url_unique``
    through ``badword_keep`` and returns the checkpointed survivors. Runs
    at the caller's shuffle width."""
    from etl_lala_spark.operators.dedup import (
        canonical_components,
        line_dedup,
        minhash_lsh_pairs,
    )
    from etl_lala_spark.operators.text import (
        badword_stats,
        gopher_quality_rules,
        split_sentences,
    )
    from etl_lala_spark.plans._gates import counted_checkpoint

    docs, n = counted_checkpoint(docs)  # dedup probes it repeatedly
    log("url_unique", n)

    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    # checkpoint at every iterative/fan-in seam: canonical_components builds
    # an O(rounds)-deep join lineage and each downstream stage-count action
    # would re-execute it from scratch otherwise (measured 2x wall on the
    # whole gate)
    pairs, n = counted_checkpoint(pairs.repartition(4))
    log("neardup_pairs", n)
    comp = canonical_components(pairs).withColumnRenamed("doc", "doc_id")
    survivors, n = counted_checkpoint(
        docs.join(comp, "doc_id", "left")
        .filter(
            F.col("canonical").isNull()
            | (F.col("canonical") == F.col("doc_id"))
        )
        .select("doc_id", "text")
        .repartition(4)
    )
    log("dedup_survivors", n)

    sents = split_sentences(survivors, text_col="text")
    log("sentences", sents.count())
    sent_text = sents.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sentence_id", "sentence"))),
                lambda s: s["sentence"],
            ),
            "\n",
        ).alias("text")
    )
    ld = line_dedup(sent_text, text_col="text", id_col="doc_id")
    ld, n = counted_checkpoint(ld.repartition(4), F.sum("n_removed"))
    log("boiler_lines_removed", n or 0)

    gq = gopher_quality_rules(
        ld.select("doc_id", F.col("clean_text").alias("text")), min_words=30
    )
    kept = gq.filter(F.col("keep")).select("doc_id", "text")
    log("gopher_keep", kept.count())

    final, n = counted_checkpoint(  # feeds the shard export (and langid)
        badword_stats(kept, ["zonkword"])
        .filter(F.col("n_badwords") == 0)
        .select("doc_id", "text")
    )
    log("badword_keep", n)
    return final


def _shard_stages(final: DataFrame, log) -> None:
    """Pack the survivors into seeded 480-byte shards (the packing
    ``_cb_survivor_shard_cte`` replays) and log docs, bytes and shards."""
    from etl_lala_spark.sinks.writer import shard_assignments

    sa = shard_assignments(final, 480, seed="corpus")
    agg = sa.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("doc_bytes").alias("bytes"),
        F.countDistinct("shard").alias("shards"),
    ).collect()[0]
    log("shard_docs", agg["docs"])
    log("shard_bytes", agg["bytes"])
    log("shards", agg["shards"])


# --- WET / WAT: the other two Common Crawl formats ---------------------------
#
# Most CC text pipelines never touch raw WARC: they read WET (extracted
# plain text as `conversion` records) or WAT (per-page metadata as JSON
# `metadata` records). Both ride the SAME gzip-member/record kernel as WARC
# (`sources/warc.py:extract_warc_records` is generic over WARC-Type: a
# non-response record carries its whole block as the payload) — these gates
# prove the two formats end to end and chain them into the curation surface
# (token counting for WET, link extraction for WAT).

_WET_ORACLE = """
WITH m AS (
  SELECT d.doc_id, i.i
  FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d, range(0, 3) i(i)
  WHERE i.i <= d.doc_id % 3
),
c AS (
  SELECT doc_id, i,
         rtrim(repeat('the wet text of doc ' || doc_id || ' record ' || i
                || ' ', CAST(i + 1 AS INT))) AS body
  FROM m
)
SELECT 'mem://seg' || doc_id || '.warc.wet.gz' AS file,
       CAST(i + 1 AS INT) AS record_index,
       'conversion' AS warc_type,
       'http://example.com/doc' || doc_id || '/page' || i AS target_uri,
       CAST(strlen(body) AS BIGINT) AS n_payload_bytes,
       md5(body) AS digest,
       CAST(8 * (i + 1) AS BIGINT) AS n_tokens
FROM c
ORDER BY file, record_index
"""


@register("web_wet_extract", oracle=_WET_ORACLE)
def web_wet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET (Common Crawl extracted-text) ingestion under the gate: per doc
    a real ``.warc.wet.gz`` in the WET layout — one warcinfo record, then
    one ``conversion`` record per page whose block is the page's plain
    text (no HTTP envelope; the defining difference from WARC response
    records) — expanded by the same ``extract_warc_records`` kernel
    filtered to conversions, then chained into the curation surface's
    whitespace token count. The oracle replays the all-records ordinal
    (warcinfo = 0, conversion i+1), the payload bytes and md5 (an HTTP
    header-split applied to a conversion record would corrupt both), and
    the token count per record. Scale: identical shape to WARC ingestion
    — Arrow-batched member split, per-file parallelism, no shuffle before
    the final order."""
    from etl_lala_spark.operators.text import token_count
    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        warc_file_bytes,
        warc_record_bytes,
    )

    def render(d: int) -> list[tuple]:
        members = [warc_record_bytes("warcinfo", b"software: etl-lala-gate-wet")]
        for i in range(d % 3 + 1):
            body = " ".join(
                [f"the wet text of doc {d} record {i}"] * (i + 1)
            ).encode()
            members.append(
                warc_record_bytes(
                    "conversion",
                    body,
                    target_uri=f"http://example.com/doc{d}/page{i}",
                )
            )
        return [(f"mem://seg{d}.warc.wet.gz", warc_file_bytes(members))]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    wets = map_rows(docs.select("doc_id"), render, "path string, content binary")
    recs = extract_warc_records(wets, types=("conversion",))
    text = F.col("payload").cast("string")
    return recs.select(
        "file",
        "record_index",
        "warc_type",
        "target_uri",
        "n_payload_bytes",
        F.md5("payload").alias("digest"),
        token_count(text).cast("bigint").alias("n_tokens"),
    ).orderBy("file", "record_index")


_WAT_ORACLE = """
WITH m AS (
  SELECT d.doc_id, i.i
  FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d, range(0, 3) i(i)
  WHERE i.i <= d.doc_id % 3
),
l AS (
  SELECT doc_id, i, unnest(range(0, 2)) AS j FROM m
)
SELECT 'http://example.com/doc' || doc_id || '/page' || i AS page_url,
       'Doc ' || doc_id || ' page ' || i AS title,
       CAST(2 AS BIGINT) AS n_links,
       'http://out' || ((doc_id + i + j) % 7) || '.example.com/t' || j
         AS link
FROM l
ORDER BY page_url, link
"""


@register("web_wat_extract", oracle=_WAT_ORACLE)
def web_wat_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT (Common Crawl per-page metadata) ingestion: per doc a real
    ``.warc.wat.gz`` — warcinfo, then one ``metadata`` record per page
    whose block is the WAT JSON envelope (title + outgoing links, the
    fields link-graph and seed-discovery jobs read) — expanded by the
    shared record kernel, payload parsed with ``from_json`` (codegen, no
    Python in the parse path), links exploded to edge grain. The oracle
    replays page URL, title, link count, and every resolved link target.
    A JSON-schema drift, a lost record, or link-array truncation lands on
    different rows. Scale: member split + one from_json scan + one
    explode — the WAT path to a 100 TB link graph never shuffles before
    the edge aggregate."""
    import json as _json

    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        warc_file_bytes,
        warc_record_bytes,
    )

    def render(d: int) -> list[tuple]:
        members = [warc_record_bytes("warcinfo", b"software: etl-lala-gate-wat")]
        for i in range(d % 3 + 1):
            uri = f"http://example.com/doc{d}/page{i}"
            links = [
                {"url": f"http://out{(d + i + j) % 7}.example.com/t{j}"}
                for j in range(2)
            ]
            envelope = {
                "Envelope": {
                    "WARC-Header-Metadata": {"WARC-Target-URI": uri},
                    "Payload-Metadata": {
                        "HTTP-Response-Metadata": {
                            "HTML-Metadata": {
                                "Head": {"Title": f"Doc {d} page {i}"},
                                "Links": links,
                            }
                        }
                    },
                }
            }
            members.append(
                warc_record_bytes(
                    "metadata", _json.dumps(envelope).encode(), target_uri=uri
                )
            )
        return [(f"mem://seg{d}.warc.wat.gz", warc_file_bytes(members))]

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    wats = map_rows(docs.select("doc_id"), render, "path string, content binary")
    recs = extract_warc_records(wats, types=("metadata",))
    wat_schema = (
        "Envelope struct<`WARC-Header-Metadata` struct<`WARC-Target-URI` string>,"
        " `Payload-Metadata` struct<`HTTP-Response-Metadata`"
        " struct<`HTML-Metadata` struct<Head struct<Title string>,"
        " Links array<struct<url string>>>>>>"
    )
    parsed = recs.select(
        F.from_json(F.col("payload").cast("string"), wat_schema).alias("w")
    ).select(
        F.col("w.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").alias(
            "page_url"
        ),
        F.col(
            "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`"
            ".`HTML-Metadata`.Head.Title"
        ).alias("title"),
        F.col(
            "w.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`"
            ".`HTML-Metadata`.Links"
        ).alias("links"),
    )
    return parsed.select(
        "page_url",
        "title",
        F.size("links").cast("bigint").alias("n_links"),
        F.explode(F.col("links.url")).alias("link"),
    ).orderBy("page_url", "link")


# Chains per doc d (< 120): length c = d % 4 of 302 captures r0 -> r1 -> ...
# ending at a 200 '/final' capture; docs % 10 == 0 dangle (last hop targets
# a key with no capture), else docs % 11 == 0 loop back to r0 (never
# terminates -> too_deep, NULL endpoint); every intermediate hop resolves
# with its own remaining-distance hop count.
_CDX_REDIRECT_ORACLE = """
WITH d AS (
  SELECT doc_id, doc_id % 4 AS c,
         CASE WHEN doc_id % 10 = 0 THEN 'dangling'
              WHEN doc_id % 11 = 0 THEN 'too_deep'
              ELSE 'ok' END AS kind
  FROM documents WHERE doc_id < 120
),
hops AS (
  SELECT doc_id, c, kind, unnest(range(0, 3)) AS j FROM d
)
SELECT 'com,example)/d' || doc_id || '/r' || j AS surt,
       CASE kind WHEN 'ok' THEN 'com,example)/d' || doc_id || '/final'
                 WHEN 'dangling' THEN 'com,example)/d' || doc_id || '/missing'
                 ELSE NULL END AS final_surt,
       CASE WHEN kind = 'too_deep' THEN NULL
            ELSE CAST(c - j AS BIGINT) END AS hops,
       kind AS resolution
FROM hops
WHERE j < c
ORDER BY surt
"""


@register("web_cdx_redirects", oracle=_CDX_REDIRECT_ORACLE)
def web_cdx_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX redirect-chain resolution (``operators/web.py:
    cdx_redirect_resolve``): planted 302 chains of length 0–3 per doc
    ending at a 200 capture, with every tenth doc's chain leaving the
    index (dangling) and every eleventh looping back to its own head
    (never terminates). The oracle states, for EVERY redirecting key —
    including mid-chain hops — the final key, the remaining hop count,
    and the resolution class; a pointer-doubling bug (missed jump, hop
    miscount, loop classified as resolved, a terminal key followed
    onward) lands on different rows. Scale: the resolver joins only the
    3xx edge slice, O(log max_hops) rounds — the argument is in the
    operator docstring."""
    from etl_lala_spark.operators.web import cdx_redirect_resolve, parse_cdxj
    from etl_lala_spark.plans._gates import shuffle_width

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    rows = d.select("doc_id", (F.col("doc_id") % 4).cast("int").alias("c"))
    ds = F.col("doc_id").cast("string")
    base_url = F.concat(F.lit("http://example.com/d"), ds)
    base_surt = F.concat(F.lit("com,example)/d"), ds)
    j = F.col("j")
    last_target = (
        F.when(F.col("doc_id") % 10 == 0, F.concat(base_url, F.lit("/missing")))
        .when(F.col("doc_id") % 11 == 0, F.concat(base_url, F.lit("/r0")))
        .otherwise(F.concat(base_url, F.lit("/final")))
    )
    redirect_lines = (
        rows.filter(F.col("c") > 0)
        .select("doc_id", "c", F.explode(F.sequence(F.lit(0), F.col("c") - 1)).alias("j"))
        .select(
            F.concat(
                base_surt, F.lit("/r"), j.cast("string"),
                F.lit(" 20240101000000 "),
                F.lit('{"url": "'), base_url, F.lit("/r"), j.cast("string"),
                F.lit('", "mime": "text/html", "status": "302",'
                      ' "digest": "sha1:R", "length": "10", "offset": "0",'
                      ' "filename": "w.warc.gz", "redirect": "'),
                F.when(
                    j < F.col("c") - 1,
                    F.concat(base_url, F.lit("/r"), (j + 1).cast("string")),
                ).otherwise(last_target),
                F.lit('"}'),
            ).alias("line")
        )
    )
    final_lines = rows.select(
        F.concat(
            base_surt, F.lit("/final 20240101000000 "),
            F.lit('{"url": "'), base_url,
            F.lit('/final", "mime": "text/html", "status": "200",'
                  ' "digest": "sha1:F", "length": "10", "offset": "0",'
                  ' "filename": "w.warc.gz"}'),
        ).alias("line")
    )
    idx = parse_cdxj(redirect_lines.unionByName(final_lines))
    # the edge slice is gate-constant (240 rows): run the doubling loop at
    # a matching shuffle width instead of paying 4 wide-shuffle rounds on a
    # default-conf session
    with shuffle_width(spark, 8):
        # max_hops=4 covers the planted 3-hop chains and classifies the
        # loops (doubling passes 4 after three rounds) with one fewer
        # pointer-doubling round than the operator default
        out = cdx_redirect_resolve(idx, max_hops=4)
        out = out.localCheckpoint(eager=True)  # materialize at that width
    return out.orderBy("surt")


# k = doc_id % 6: 0 none declared; 1 meta noindex (HTML5-unquoted value);
# 2 TWO meta declarations — an unquoted self-closing nofollow plus a
# reversed-attribute quoted noindex — that must UNION; 3 TWO X-Robots-Tag
# header lines with nofollow on the SECOND; 4 meta content="none" (implies
# both); 5 a description DECOY containing 'noindex' that must not count.
# Every doc also carries an unrelated viewport meta.
_ROBOTS_META_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 6 IN (1, 2, 4) THEN 1 ELSE 0 END AS noindex,
       CASE WHEN doc_id % 6 IN (2, 3, 4) THEN 1 ELSE 0 END AS nofollow
FROM documents WHERE doc_id < 200 ORDER BY doc_id
"""


@register("web_robots_meta", oracle=_ROBOTS_META_ORACLE)
def web_robots_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level robots directives (``operators/web.py:
    robots_meta_directives``): six planted shapes per doc class — no
    declaration, an HTML5-unquoted meta noindex, TWO meta declarations
    (unquoted self-closing nofollow + reversed-attribute quoted noindex)
    whose directives must union, TWO ``X-Robots-Tag`` header lines with
    nofollow on the second, ``content="none"`` (implies both), and a
    ``name="description"`` decoy whose text contains 'noindex' and must
    NOT count. The oracle states both flags per doc from the planting
    arithmetic; a matcher that keys on the wrong attribute, reads only
    the first declaration, rejects unquoted values, misses the header
    source, or misreads ``none`` lands on different rows."""
    from etl_lala_spark.operators.web import robots_meta_directives

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    k = F.col("doc_id") % 6
    html = F.concat(
        F.lit('<html><head><meta name="viewport" content="width=device-width">'),
        F.when(k == 1, F.lit("<meta name=robots content=noindex>"))
        .when(k == 2, F.lit("<meta name=robots content=nofollow/>"
                            '<meta content="noindex" name="ROBOTS">'))
        .when(k == 4, F.lit("<meta name='robots' content='none'>"))
        .when(k == 5, F.lit('<meta name="description"'
                            ' content="how noindex works">'))
        .otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    headers = F.when(
        k == 3, F.lit("Content-Type: text/html\r\nX-Robots-Tag: noarchive"
                      "\r\nX-Robots-Tag: nofollow")
    ).otherwise(F.lit("Content-Type: text/html"))
    out = robots_meta_directives(
        d.select("doc_id", html.alias("html"), headers.alias("http_headers"))
    )
    return out.select(
        "doc_id",
        F.col("noindex").cast("int").alias("noindex"),
        F.col("nofollow").cast("int").alias("nofollow"),
    ).orderBy("doc_id")


# k = doc_id % 4: 0 unconditional (200); 1 matching ETag (304, zero bytes);
# 2 stale ETag (200, NEW validator captured); 3 matching If-Modified-Since
# (304). Body 'body<d>'; server ETag '"v2-<d>"', Last-Modified a fixed date.
_REVALIDATE_ORACLE = """
SELECT 'doc' || doc_id AS page,
       CASE WHEN doc_id % 4 IN (1, 3) THEN 'not_modified' ELSE 'ok' END
         AS status,
       CAST(CASE WHEN doc_id % 4 IN (1, 3) THEN 304 ELSE 200 END AS INT)
         AS fetch_status,
       CAST(CASE WHEN doc_id % 4 IN (1, 3) THEN 0
                 ELSE 4 + length(CAST(doc_id AS VARCHAR)) END AS BIGINT)
         AS n_bytes,
       CASE WHEN doc_id % 4 = 3 THEN NULL
            ELSE '"v2-' || doc_id || '"' END AS etag
FROM documents WHERE doc_id < 160 ORDER BY page
"""


@register("web_fetch_revalidate", oracle=_REVALIDATE_ORACLE)
def web_fetch_revalidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-GET revalidation over live loopback HTTP
    (``sources/fetch.py:fetch_conditional``) — the origin-validator half
    of incremental recrawl (``cdx_snapshot_delta`` prunes by index
    digest; this prunes by ETag/Last-Modified): a matching
    ``If-None-Match`` or ``If-Modified-Since`` earns a ``304`` with ZERO
    body bytes and the prior validators carried forward (RFC 9110), a
    stale or absent validator earns a full ``200`` whose NEW ETag is
    captured for the next cycle. The oracle states status, code, byte
    count, and the forward-carried validator per page; a fetcher that
    treats 304 as an error, re-downloads on a match, or drops the new
    validator lands on different rows."""
    import re as _re

    from etl_lala_spark.plans._gates import (
        QuietHandler,
        gate_workdir,
        loopback_server,
    )
    from etl_lala_spark.sources.fetch import fetch_conditional

    work = gate_workdir(spark, "web_fetch_revalidate")
    LM = "Wed, 01 Jan 2025 00:00:00 GMT"

    class Handler(QuietHandler):
        def do_GET(self):
            m = _re.match(r"^/doc(\d+)$", self.path)
            if not m:
                self.send_error(404)
                return
            d = int(m.group(1))
            etag = f'"v2-{d}"'
            inm = self.headers.get("If-None-Match")
            ims = self.headers.get("If-Modified-Since")
            if inm == etag or (inm is None and ims == LM):
                self.send_response(304)
                self.end_headers()
                return
            body = f"body{d}".encode()
            self.send_response(200)
            self.send_header("ETag", etag)
            self.send_header("Last-Modified", LM)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    with loopback_server(Handler) as base:
        d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 160)
        k = F.col("doc_id") % 4
        ds = F.col("doc_id").cast("string")
        plan = d.select(
            F.concat(F.lit(f"{base}/doc"), ds).alias("url"),
            F.when(k == 1, F.concat(F.lit('"v2-'), ds, F.lit('"')))
            .when(k == 2, F.concat(F.lit('"v1-'), ds, F.lit('"')))
            .alias("etag"),
            F.when(k == 3, F.lit(LM)).alias("last_modified"),
        )
        got = fetch_conditional(plan, retries=1, backoff_s=0.05)
        got.write.mode("overwrite").parquet(os.path.join(work, "out"))
    out = spark.read.parquet(os.path.join(work, "out"))
    return out.select(
        F.regexp_extract("url", r"/(doc\d+)$", 1).alias("page"),
        "status",
        "fetch_status",
        "n_bytes",
        "etag",
    ).orderBy("page")


# --- Incremental recrawl: the warm-path twin of web_corpus_build --------------
#
# doc classes k = doc_id % 4 over docs 0..47: 0 unchanged (matching ETag ->
# 304, zero bytes), 1 changed (stale ETag -> 200 with new content), 2 added
# (no stored validators -> unconditional 200), 3 vanished (origin 404s ->
# structured error row, index entry deleted). Near-dup planting inside the
# changed slice: changed docs {1,13,25,37} and added docs {6,18,30,42} carry
# text that EXACTLY copies a still-indexed unchanged doc ((d+3)%48 resp.
# (d+2)%48), so incremental MinHash against the persisted index must drop
# them; everything else is word-disjoint.

_RC_SEED = "7"
_RC_SHARD_BYTES = 200
_RC_CHANGED_COPY = {1, 13, 25, 37}
_RC_ADDED_COPY = {6, 18, 30, 42}


def _rc_text(prefix: str, d: int) -> str:
    toks = " ".join(f"{prefix}{d}w{i}" for i in range(8))
    return (
        f"the record {d} is here and it was {prefix} with tokens {toks} in it."
    )


def _rc_new_text(d: int) -> str | None:
    k = d % 4
    if k == 0:
        return _rc_text("o", d)
    if k == 1:
        return (
            _rc_text("o", (d + 3) % 48) if d in _RC_CHANGED_COPY
            else _rc_text("n", d)
        )
    if k == 2:
        return (
            _rc_text("o", (d + 2) % 48) if d in _RC_ADDED_COPY
            else _rc_text("n", d)
        )
    return None  # vanished


def _rc_page(text: str) -> str:
    return (
        "<html><head></head><body>\n"
        '<script>var a = "<p>not text</p>";</script>\n'
        '<div class="nav"><a href="/">home</a>'
        ' <a href="/about">about us now</a></div>\n'
        f"<p>{text}</p>\n"
        '<div class="footer"><a href="/t">t&amp;c</a>'
        ' <a href="/p">privacy</a> <a href="/c">contact</a></div>\n'
        "</body></html>"
    )


def _rc_surt(d: int) -> str:
    return f"com,example,site{d % 6})/page{d}"


def _rc_cdx_line(d: int, ts: int, digest: str, url: str) -> str:
    return (
        f'{_rc_surt(d)} {ts} {{"url": "{url}", "mime": "text/html",'
        f' "status": "200", "digest": "sha1:{digest}",'
        f' "length": "1", "offset": "0", "filename": "w.warc.gz"}}'
    )


def _recrawl_oracle() -> str:
    """Pure-Python replay of the planting arithmetic, including the seeded
    md5 shard packing (same greedy rule as sinks/writer.py:
    shard_assignments — shard = floor(start_byte / shard_bytes) in
    (shuffle_key, doc_id) order)."""
    import hashlib

    survivors = {d: _rc_text("o", d) for d in range(0, 48, 4)}  # unchanged
    for d in range(1, 48, 4):
        if d not in _RC_CHANGED_COPY:
            survivors[d] = _rc_text("n", d)
    for d in range(2, 48, 4):
        if d not in _RC_ADDED_COPY:
            survivors[d] = _rc_text("n", d)
    keyed = sorted(
        (hashlib.md5(f"{_RC_SEED}:{d}".encode()).hexdigest(), d)
        for d in survivors
    )
    cum, n_shards = 0, 0
    for _, d in keyed:
        size = len(survivors[d].encode())
        n_shards = max(n_shards, cum // _RC_SHARD_BYTES + 1)
        cum += size
    stages = [
        ("frontier_urls", 48),
        ("reval_not_modified", 12),
        ("reval_fetched_ok", 24),
        ("reval_errors", 12),
        ("not_modified_bytes", 0),
        ("new_snapshot_selected", 36),
        ("delta_unchanged", 12),
        ("delta_changed", 12),
        ("delta_added", 12),
        ("delta_vanished", 12),
        ("extracted_changed_slice", 24),
        ("neardup_pairs_vs_index", 8),
        ("neardup_dropped", 8),
        ("index_docs_before", 36),
        ("index_docs_after_delete", 12),
        ("index_appended", 16),
        ("replay_appended", 0),
        ("index_docs_after", 28),
        ("shard_docs", len(survivors)),
        ("shards", n_shards),
        ("shard_bytes", cum),
    ]
    rows = "\nUNION ALL ".join(
        f"SELECT {i} AS stage_ord, '{name}' AS stage,"
        f" CAST({n} AS BIGINT) AS n"
        for i, (name, n) in enumerate(stages)
    )
    return f"SELECT * FROM ({rows}) ORDER BY stage_ord"


@register("web_recrawl_incremental", oracle=_recrawl_oracle())
def web_recrawl_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MONTHLY RE-CRAWL workflow end to end — the warm-path twin of
    ``web_corpus_build`` (which pins the cold crawl): stored origin
    validators -> ``fetch_conditional`` over live loopback HTTP (304s move
    ZERO bytes; vanished pages surface as R5 error rows) -> new snapshot
    lines -> ``parse_cdxj``/``select_captures`` ->
    ``cdx_snapshot_delta`` against last month's selection (unchanged /
    changed / added / vanished all planted) -> ``extract_main_content``
    over the changed slice only -> ``minhash_incremental_pairs`` against
    the PERSISTED index (planted copies of still-indexed docs must drop;
    the corpus is never re-shingled) -> ``minhash_index_delete`` of
    changed+vanished old versions -> ``minhash_index_append`` of the
    survivors, REPLAYED once to pin at-least-once idempotency (second
    append lands 0 docs) -> ``shard_assignments`` over the updated
    corpus. One closed-form stage-count row per seam; an unchanged doc
    that moves bytes, a dropped validator, a survivor miscount, or a
    non-idempotent append lands on a different stage integer.

    Scale: the recrawl moves only the changed slice (here 24 of 48 pages;
    the 12 unchanged cost one header round trip each — stage
    ``not_modified_bytes`` pins the 0), dedup probes the index at
    band-bucket grain without re-shingling the corpus, deletes rewrite
    only hit partitions, and the shard prefix sum is distributed."""

    import hashlib
    import re as _re

    from etl_lala_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_index_append,
        minhash_index_delete,
        minhash_index_write,
    )
    from etl_lala_spark.operators.text import extract_main_content
    from etl_lala_spark.operators.web import (
        _parquet_dir_rows,
        cdx_snapshot_delta,
        parse_cdxj,
        select_captures,
    )
    from etl_lala_spark.plans._gates import (
        QuietHandler,
        StageLog,
        counted_checkpoint,
        fixture_region,
        gate_workdir,
        loopback_server,
        shuffle_width,
    )
    from etl_lala_spark.sinks.writer import shard_assignments
    from etl_lala_spark.sources.fetch import fetch_conditional

    class Handler(QuietHandler):
        def do_GET(self):
            m = _re.match(r"^/page(\d+)$", self.path)
            d = int(m.group(1)) if m else -1
            text = _rc_new_text(d) if d >= 0 else None
            if text is None:
                self.send_error(404)
                return
            etag = f'"v{2 if d % 4 == 1 else 1}-{d}"'
            if self.headers.get("If-None-Match") == etag:
                self.send_response(304)
                self.end_headers()
                return
            body = _rc_page(text).encode()
            self.send_response(200)
            self.send_header("ETag", etag)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    log = StageLog()
    # every frame in this gate is bounded by the 48-doc planting: run the
    # WHOLE chain — index write included — at a matching shuffle width
    # instead of paying 200-task stages
    with shuffle_width(spark, 8):
        with fixture_region("web_recrawl_incremental"):
            work = gate_workdir(spark, "web_recrawl_incremental")
            doc_ids = sorted(
                int(r["doc_id"])
                for r in load_table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") < 48)
                .select("doc_id")
                .collect()
            )
            old_pages = {
                d: _rc_page(_rc_text("o", d)).encode()
                for d in doc_ids
                if d % 4 != 2  # added docs did not exist last month
            }
            old_digest = {
                d: hashlib.md5(b).hexdigest() for d, b in old_pages.items()
            }
            index_path = os.path.join(work, "minhash_index")
            corpus_old = spark.createDataFrame(
                [(d, _rc_text("o", d)) for d in sorted(old_pages)],
                "doc_id long, text string",
            )
            minhash_index_write(corpus_old, index_path)

        # the frontier: every key seen last month (with its stored validators)
        # plus this month's discoveries (no validators yet)
        plan = spark.createDataFrame(
            [
                (
                    d,
                    f'"v1-{d}"' if d % 4 != 2 else None,
                    None,
                )
                for d in doc_ids
            ],
            "doc_id long, etag string, last_modified string",
        )
        # the frontier is the driver-built planting itself — its row count is
        # len(doc_ids) by construction, no job needed to restate it
        log("frontier_urls", len(doc_ids))

        with loopback_server(Handler) as base:
            got = fetch_conditional(
                plan.select(
                    F.concat(
                        F.lit(f"{base}/page"),
                        F.col("doc_id").cast("string"),
                    ).alias("url"),
                    "etag",
                    "last_modified",
                # fetch-concurrency sizing: the driver-built 48-row plan
                # parallelizes across defaultParallelism partitions; 8 tasks
                # of 6 loopback gets amortize the task launches and still
                # saturate the loopback server (production fetch waves bound
                # per-host concurrency anyway)
                ).coalesce(8),
                retries=1,
                backoff_s=0.05,
            )
            got.write.mode("overwrite").parquet(os.path.join(work, "fetched"))

        fetched = spark.read.parquet(os.path.join(work, "fetched")).withColumn(
            "doc_id",
            F.regexp_extract("url", r"/page(\d+)$", 1).cast("long"),
        )
        # ONE job answers all four revalidation stages: per-status row counts
        # AND the 304s' byte sum (previously a second full-frame aggregate)
        by_status_rows = (
            fetched.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("n_bytes").alias("b"))
            .collect()
        )
        by_status = {r["status"]: r["n"] for r in by_status_rows}
        nm_bytes = next(
            (r["b"] for r in by_status_rows if r["status"] == "not_modified"),
            0,
        )
        log("reval_not_modified", by_status.get("not_modified", 0))
        log("reval_fetched_ok", by_status.get("ok", 0))
        log("reval_errors", by_status.get("error", 0))
        log("not_modified_bytes", nm_bytes or 0)

        # this month's snapshot: fresh digests for 200s, carried-forward
        # entries for 304s (RFC 9110: the stored response stays valid)
        live = fetched.filter(
            F.col("status").isin("ok", "not_modified")
        ).select("doc_id", "status", "content", "url")
        new_lines = [
            _rc_cdx_line(
                int(r["doc_id"]),
                20250201000000,
                hashlib.md5(bytes(r["content"])).hexdigest()
                if r["status"] == "ok"
                else old_digest[int(r["doc_id"])],
                r["url"],
            )
            for r in live.collect()
        ]
        old_lines = [
            _rc_cdx_line(d, 20250101000000, dig, f"http://origin/page{d}")
            for d, dig in sorted(old_digest.items())
        ]
        def captures(lines: list[str]) -> DataFrame:
            return select_captures(
                parse_cdxj(
                    spark.createDataFrame([(x,) for x in lines], "line string")
                )
            )

        new_sel, n = counted_checkpoint(captures(new_lines))
        log("new_snapshot_selected", n)
        old_sel = captures(old_lines)
        delta = cdx_snapshot_delta(old_sel, new_sel)
        by_change = {
            r["change"]: r["n"]
            for r in delta.groupBy("change")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for c in ("unchanged", "changed", "added", "vanished"):
            log(f"delta_{c}", by_change.get(c, 0))

        batch, n_batch = counted_checkpoint(
            extract_main_content(
                fetched.filter(F.col("status") == "ok").select(
                    "doc_id", F.col("content").cast("string").alias("html")
                )
            ).select("doc_id", F.col("content").alias("text"))
        )
        log("extracted_changed_slice", n_batch)

        # near-dup the incoming slice against the PERSISTED index (the corpus
        # is never re-shingled), then pin every frame before the store mutates
        pairs, n = counted_checkpoint(
            minhash_incremental_pairs(batch, index_path, threshold=0.5)
        )
        log("neardup_pairs_vs_index", n)
        dropped = pairs.select(F.col("new_doc").alias("doc_id")).distinct()
        survivors, n = counted_checkpoint(
            batch.join(dropped, "doc_id", "left_anti")
        )
        log("neardup_dropped", n_batch - n)
        spark.catalog.clearCache()  # release the incremental probe caches

        sigs_path = os.path.join(index_path, "sigs")
        # store row counts from parquet footers on the driver — identical to
        # the Spark metadata count, minus three job launches per run
        log("index_docs_before", _parquet_dir_rows(sigs_path))
        # changed docs' old content is gone either way (their new version is
        # appended fresh or dropped as a near-dup); vanished docs leave
        gone = spark.createDataFrame(
            [(d,) for d in sorted(old_digest) if d % 4 in (1, 3)], "doc long"
        )
        minhash_index_delete(spark, index_path, gone)
        log("index_docs_after_delete", _parquet_dir_rows(sigs_path))
        log("index_appended", minhash_index_append(survivors, index_path))
        # at-least-once replay: re-appending the same batch must land nothing
        log("replay_appended", minhash_index_append(survivors, index_path))
        log("index_docs_after", _parquet_dir_rows(sigs_path))

        # the updated corpus: unchanged docs keep last month's text, survivors
        # contribute this month's — re-sharded for the release
        unchanged = spark.createDataFrame(
            [(d, _rc_text("o", d)) for d in sorted(old_digest) if d % 4 == 0],
            "doc_id long, text string",
        )
        corpus = unchanged.unionByName(survivors)
        shards = shard_assignments(
            corpus, shard_bytes=_RC_SHARD_BYTES, seed=_RC_SEED
        ).localCheckpoint(eager=True)
        # one aggregate answers all three shard stages (was three jobs)
        sh = shards.agg(
            F.count(F.lit(1)).alias("docs"),
            F.max("shard").alias("max_shard"),
            F.sum("doc_bytes").alias("bytes"),
        ).collect()[0]
        log("shard_docs", sh["docs"])
        log("shards", sh["max_shard"] + 1)
        log("shard_bytes", sh["bytes"])

    return log.frame(spark)


def _wet_corpus_oracle() -> str:
    # Identical survivor arithmetic to _corpus_build_oracle — the WET entry
    # point changes WHERE text comes from, not what curation does to it —
    # shared via _cb_survivor_shard_cte so the two can never drift apart.
    shard_bytes_total, shard_cte = _cb_survivor_shard_cte()
    return f"""
WITH n AS (SELECT count(*) AS nd FROM documents WHERE doc_id < 32),
{shard_cte}
SELECT * FROM (
  SELECT 0 AS stage_ord, 'wet_records' AS stage,
         CAST(nd * 2 AS BIGINT) AS n FROM n
  UNION ALL SELECT 1, 'url_unique', CAST(nd AS BIGINT) FROM n
  UNION ALL SELECT 2, 'neardup_pairs', CAST(48 AS BIGINT)
  UNION ALL SELECT 3, 'dedup_survivors', CAST(8 AS BIGINT)
  UNION ALL SELECT 4, 'sentences', CAST(23 AS BIGINT)
  UNION ALL SELECT 5, 'boiler_lines_removed', CAST(8 AS BIGINT)
  UNION ALL SELECT 6, 'gopher_keep', CAST(7 AS BIGINT)
  UNION ALL SELECT 7, 'badword_keep', CAST(6 AS BIGINT)
  UNION ALL SELECT 8, 'shard_docs', CAST(6 AS BIGINT)
  UNION ALL SELECT 9, 'shard_bytes', CAST({shard_bytes_total} AS BIGINT)
  UNION ALL SELECT 10, 'shards', CAST(n_shards AS BIGINT) FROM shards
) ORDER BY stage_ord
"""


@register("web_corpus_wet_build", oracle=_wet_corpus_oracle())
def web_corpus_wet_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WET-FIRST corpus build — how most Common Crawl consumers
    actually start (r10 verdict task 7): no fetch, no WARC response
    envelopes, no charset or main-content stage; the pipeline enters at
    ``conversion`` records whose payload IS the extracted page text, and
    runs the same curation tail as ``web_corpus_build`` — URL-variant
    dedup (www+utm twins collapse) -> MinHash near-dup (8 planted
    4-member exact clusters: 48 pairs, 8 survivors) -> sentence split ->
    cross-doc line dedup (the shared boiler sentence vanishes) -> Gopher
    (the short cluster fails) -> badwords (the zonkword cluster drops) ->
    seeded shard packing. The oracle's survivor/byte arithmetic is
    BYTE-IDENTICAL to the cold-crawl gate's: a WET entry seam that
    corrupts payload bytes, splits an HTTP envelope that isn't there, or
    double-counts the URL twins lands on a different stage integer.

    Scale: the WET member split is Arrow-batched per-file parallelism
    (same kernel as WARC), and every curation stage inherits its own
    operator's documented 100 TB argument."""
    from etl_lala_spark.functions.scalars import canonicalize_url
    from etl_lala_spark.plans._gates import (
        StageLog,
        counted_checkpoint,
        shuffle_width,
    )
    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        warc_file_bytes,
        warc_record_bytes,
    )

    def render(d: int) -> list[tuple]:
        c = d % 8
        text = " ".join(_cb_paras(c)).encode()
        members = [
            warc_record_bytes("warcinfo", b"software: etl-lala-gate-wet-corpus")
        ]
        for uri in (
            f"http://www.site{c}.example.com/doc{d}?utm_source=feed",
            f"http://site{c}.example.com/doc{d}",
        ):
            members.append(warc_record_bytes("conversion", text, target_uri=uri))
        return [(f"mem://wetseg{d}.warc.wet.gz", warc_file_bytes(members))]

    docs32 = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 32)
    wets = map_rows(docs32.select("doc_id"), render, "path string, content binary")
    recs = extract_warc_records(wets, types=("conversion",))

    log = StageLog()
    with shuffle_width(spark, 8):
        pages, n = counted_checkpoint(
            recs.select(
                F.regexp_extract("target_uri", r"/doc(\d+)", 1)
                .cast("long")
                .alias("doc_id"),
                canonicalize_url(F.col("target_uri")).alias("canonical_url"),
                F.col("payload").cast("string").alias("text"),
            ).repartition(4)
        )
        log("wet_records", n)

        uniq = (
            pages.groupBy("canonical_url")
            .agg(F.min(F.struct("doc_id", "text")).alias("_p"))
            .select(
                F.col("_p.doc_id").alias("doc_id"),
                F.col("_p.text").alias("text"),
            )
        )
        final = _curation_tail(uniq.repartition(4), log)
        _shard_stages(final, log)
    return log.frame(spark)


# Per doc d (0..23): url http://site{d%5}.example.com/idx{d}; an OLD 200
# (ts 2023), a NEW 200 (ts 2024), a NEWER 404 decoy (ts 2025) for d%4==0
# that newest-good selection must skip, and a 301 with a Location header
# (ts 2022) for d%6==0 whose index line must carry the redirect field.
_CDX_RT_ORACLE = """
WITH n AS (SELECT count(*) AS nd FROM documents WHERE doc_id < 24)
SELECT * FROM (
  SELECT 0 AS stage_ord, 'warc_files' AS stage, CAST(nd AS BIGINT) AS n FROM n
  UNION ALL SELECT 1, 'warc_records',
    CAST(nd * 3 + nd // 4 + (nd + 5) // 6 AS BIGINT) FROM n
  UNION ALL SELECT 2, 'index_lines',
    CAST(nd * 2 + nd // 4 + (nd + 5) // 6 AS BIGINT) FROM n
  UNION ALL SELECT 3, 'index_redirect_lines', CAST((nd + 5) // 6 AS BIGINT) FROM n
  UNION ALL SELECT 4, 'parse_errors', CAST(0 AS BIGINT)
  UNION ALL SELECT 5, 'selected_newest_good', CAST(nd AS BIGINT) FROM n
  UNION ALL SELECT 6, 'fetched_ok', CAST(nd AS BIGINT) FROM n
  UNION ALL SELECT 7, 'digest_roundtrip_match', CAST(nd AS BIGINT) FROM n
) ORDER BY stage_ord
"""


@register("web_cdx_index_roundtrip", oracle=_CDX_RT_ORACLE)
def web_cdx_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX GENERATION round trip — the writer half of the index-first
    pipeline (`operators/web.py:cdx_index_lines`) proven against its own
    reader: real ``.warc.gz`` files on disk → ``binaryFile`` scan →
    ``extract_warc_records`` (offsets discovered from the gzip member
    split, not planted) → ``cdx_index_lines`` → ``parse_cdxj`` of the
    GENERATED lines (zero error rows) → ``select_captures`` (the newest
    404 decoy must lose to the newest 200) → ``fetch_ranges`` over live
    loopback using the GENERATED offsets → re-extraction of the fetched
    members, whose payload sha1 must equal the digest the index line
    declared. An offset off by one, a member extent mis-measured, a
    digest over the raw block instead of the decoded payload, a
    swallowed Location header, or a ts fold that loses a digit lands on
    a different stage count."""
    import gzip

    from etl_lala_spark.operators.web import (
        cdx_index_lines,
        parse_cdxj,
        select_captures,
    )
    from etl_lala_spark.plans._gates import (
        StageLog,
        counted_checkpoint,
        fixture_region,
        gate_workdir,
        loopback_server,
        ranged_file_handler,
        shuffle_width,
    )
    from etl_lala_spark.sources.fetch import fetch_ranges
    from etl_lala_spark.sources.warc import (
        extract_warc_records,
        http_response_bytes,
        warc_record_bytes,
    )

    with fixture_region("web_cdx_index_roundtrip"):
        work = gate_workdir(spark, "web_cdx_index_roundtrip")
        warcdir = os.path.join(work, "warcs")
        os.makedirs(warcdir)
        doc_ids = sorted(
            int(r["doc_id"])
            for r in load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 24)
            .select("doc_id")
            .collect()
        )
        for d in doc_ids:
            uri = f"http://site{d % 5}.example.com/idx{d}"
            members = [
                gzip.compress(
                    warc_record_bytes("warcinfo", b"software: etl-lala-gate"),
                    compresslevel=1,
                )
            ]
            captures = [
                ("2023-06-01T00:00:00Z", 200,
                 f"<html><body>old page {d}</body></html>".encode(), None),
                ("2024-06-01T00:00:00Z", 200,
                 f"<html><body>new page {d}</body></html>".encode(), None),
            ]
            if d % 4 == 0:
                captures.append(("2025-06-01T00:00:00Z", 404, b"gone", None))
            if d % 6 == 0:
                captures.append(
                    ("2022-06-01T00:00:00Z", 301, b"",
                     f"http://site{d % 5}.example.com/idx{d}v2")
                )
            for ts, status, body, loc in captures:
                extra = {"Location": loc} if loc else {}
                members.append(
                    gzip.compress(
                        warc_record_bytes(
                            "response",
                            http_response_bytes(
                                status, body, content_type="text/html",
                                extra_headers=extra,
                            ),
                            target_uri=uri,
                            warc_date=ts,
                        ),
                        compresslevel=1,
                    )
                )
            with open(os.path.join(warcdir, f"idx{d}.warc.gz"), "wb") as fh:
                fh.write(b"".join(members))

    log = StageLog()
    with shuffle_width(spark, 8):
        log("warc_files", len(doc_ids))
        blobs = (
            spark.read.format("binaryFile")
            .load(warcdir)
            .select(F.col("path"), F.col("content"))
        )
        recs, n = counted_checkpoint(
            extract_warc_records(blobs, types=None)  # warcinfo rows too
            .repartition(4)
        )
        log("warc_records", n)
        lines = cdx_index_lines(recs, file_col="file").localCheckpoint(
            eager=True
        )
        parsed = parse_cdxj(lines.select("line"))
        # ONE aggregate answers all three stage integers — parse_cdxj is
        # row-preserving and carries the input line through, so the line
        # count, the redirect-line count and the parse-error count are
        # three measures of the same frame (was three count jobs)
        counts = parsed.agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_if(F.col("line").contains('"redirect"')).alias("n_redir"),
            F.count_if(F.col("_error").isNotNull()).alias("n_err"),
        ).collect()[0]
        log("index_lines", counts["n_lines"])
        log("index_redirect_lines", counts["n_redir"])
        log("parse_errors", counts["n_err"])
        sel, n = counted_checkpoint(select_captures(parsed))
        log("selected_newest_good", n)

        with loopback_server(ranged_file_handler(warcdir)) as base:
            plan = sel.select(
                F.concat(F.lit(f"{base}/"), F.col("filename")).alias("url"),
                "offset",
                "length",
            )
            fetched = fetch_ranges(plan, max_bytes=1 << 20)
            fetched.filter(F.col("status") == "ok").write.mode(
                "overwrite"
            ).parquet(os.path.join(work, "fetched"))
        ok = spark.read.parquet(os.path.join(work, "fetched"))
        log("fetched_ok", ok.count())
        # re-extract the fetched members and compare payload sha1 against
        # the digest THE GENERATED INDEX declared — the full round trip
        refetched = extract_warc_records(
            ok.select(
                F.concat("url", F.lit("#"), F.col("offset").cast("string"))
                .alias("path"),
                "content",
            ),
            types=("response",),
        ).select(
            "target_uri",
            F.concat(F.lit("sha1:"), F.sha1(F.col("payload"))).alias("rt_digest"),
        )
        match = refetched.join(
            sel.select(F.col("url").alias("_u"), F.col("digest")),
            refetched["target_uri"] == F.col("_u"),
        ).filter(F.col("rt_digest") == F.col("digest"))
        log("digest_roundtrip_match", match.count())
    return log.frame(spark)
