"""Ingestion-parity tests: archive expansion, DBF decode, NDJSON tagged
streams, manifest building (reference S1-S10)."""

from __future__ import annotations

import io
import json
import os
import sys
import zipfile

import pytest

from etl_lala_spark.sources import archive as arc
from etl_lala_spark.sources import dbc
from etl_lala_spark.sources import manifest as man
from etl_lala_spark.sources import ndjson

TMP = os.path.join(os.path.dirname(__file__), ".tmp")


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


@pytest.fixture(scope="module")
def staging(spark):
    os.makedirs(TMP, exist_ok=True)
    yield TMP


def test_archive_expansion_filters_suffix(spark, staging):
    zdir = os.path.join(staging, "zips")
    os.makedirs(zdir, exist_ok=True)
    with open(os.path.join(zdir, "a.zip"), "wb") as fh:
        fh.write(
            _zip_bytes({"PAPE2501.dbc": b"x" * 10, "README.txt": b"no", "sub/PBPE2502.DBC": b"y" * 5})
        )
    archives = arc.read_binary_files(spark, zdir, glob="*.zip")
    members = arc.strip_extension(arc.extract_archive_members(archives, suffix=".dbc"))
    rows = {r["member_basename"]: r for r in members.collect()}
    # suffix filter is case-insensitive (reference lowercases), txt dropped
    assert set(rows) == {"PAPE2501.dbc", "PBPE2502.DBC"}
    assert rows["PAPE2501.dbc"]["n_bytes"] == 10
    assert rows["PBPE2502.DBC"]["nome_sem_ext"] == "PBPE2502"


def test_dbf_roundtrip_and_decode(spark, staging):
    cols = ["AP_MVM", "AP_CONDIC", "AP_VL_TOTAL"]
    rows = [["202501", "EP", "153.27"], ["202502", "PG", "99.10"], ["202501", "EP", "1.00"]]
    data = dbc.write_dbf(cols, rows)
    assert dbc.parse_dbf_header(data) == cols
    got_cols, got_rows = dbc.parse_dbf(data)
    assert got_cols == cols and got_rows == rows
    # limit pushdown (reference S9)
    assert len(dbc.parse_dbf(data, limit=2)[1]) == 2

    # distributed decode path: zip -> members -> all-string record table
    zdir = os.path.join(staging, "dbfzips")
    os.makedirs(zdir, exist_ok=True)
    with open(os.path.join(zdir, "b.zip"), "wb") as fh:
        fh.write(_zip_bytes({"PAPE2501.dbf": data}))
    members = arc.extract_archive_members(
        arc.read_binary_files(spark, zdir, glob="*.zip"), suffix=".dbf"
    )
    records = dbc.read_dbf(members)
    out = records.collect()
    assert len(out) == 3
    assert out[0]["AP_MVM"] == "202501"
    assert all(r["arquivo_origem"] == "PAPE2501" for r in out)
    assert [f.dataType.simpleString() for f in records.schema.fields] == ["string"] * 4


def test_implode_known_answer_vector():
    """The format's published test vector: matches + end-of-stream code."""
    from etl_lala_spark.sources import implode

    kat = bytes([0x00, 0x04, 0x82, 0x24, 0x25, 0x8F, 0x80, 0x7F])
    assert implode.decompress(kat) == b"AIAIAIAIAIAIA"


def test_implode_literal_roundtrip_and_errors():
    from etl_lala_spark.sources import implode

    for blob in [b"", b"A", b"hello world" * 50, bytes(range(256))]:
        for bits in (4, 5, 6):
            assert implode.decompress(implode.compress_literal(blob, bits)) == blob
    with pytest.raises(implode.CorruptError):
        implode.decompress(b"\x02\x04\x00")  # bad literal flag
    with pytest.raises(implode.CorruptError):
        implode.decompress(b"\x00\x07\x00")  # bad dictionary size
    with pytest.raises(implode.CorruptError):
        implode.decompress(b"\x00\x04")  # truncated stream


def test_dbc_end_to_end(spark, staging):
    """S8 full path: .dbc (implode-compressed DBF) → all-string records."""
    cols = ["AP_MVM", "AP_CONDIC", "AP_VL_TOTAL"]
    rows = [["202501", "EP", "153.27"], ["202502", "PG", "99.10"]]
    dbf_bytes = dbc.write_dbf(cols, rows)
    dbc_bytes = dbc.dbf_to_dbc(dbf_bytes)
    assert len(dbc_bytes) != len(dbf_bytes)
    assert dbc.dbc_to_dbf(dbc_bytes) == dbf_bytes
    # header is stored verbatim → schema discovery without decompression
    assert dbc.parse_dbf_header(dbc_bytes) == cols

    zdir = os.path.join(staging, "dbczips")
    os.makedirs(zdir, exist_ok=True)
    with open(os.path.join(zdir, "c.zip"), "wb") as fh:
        fh.write(_zip_bytes({"PAPE2501.dbc": dbc_bytes}))
    members = arc.extract_archive_members(
        arc.read_binary_files(spark, zdir, glob="*.zip"), suffix=".dbc"
    )
    out = dbc.read_dbc(members).collect()
    assert len(out) == 2
    assert out[0]["AP_MVM"] == "202501"
    assert all(r["arquivo_origem"] == "PAPE2501" for r in out)


def test_latin1_roundtrip():
    cols = ["NOME"]
    rows = [["SÃO PAULO"]]
    data = dbc.write_dbf(cols, rows)
    assert dbc.parse_dbf(data)[1] == rows


def test_tagged_ndjson_split(spark, staging):
    ndir = os.path.join(staging, "ndjson")
    os.makedirs(ndir, exist_ok=True)
    lines = [
        {"tipo": "metadados", "arquivo": "PAPE2501", "total_colunas": 2, "colunas": ["A", "B"]},
        {"tipo": "registro", "dados": {"A": "1", "B": "x"}},
        {"tipo": "registro", "dados": {"A": "2", "B": "y"}},
    ]
    with open(os.path.join(ndir, "f.ndjson"), "w") as fh:
        fh.write("\n".join(json.dumps(x) for x in lines))
    meta, recs = ndjson.read_tagged_ndjson(spark, ndir, record_fields=["A", "B"])
    m = meta.collect()
    assert len(m) == 1 and m[0]["arquivo"] == "PAPE2501" and m[0]["colunas"] == ["A", "B"]
    got = sorted((r["A"], r["B"]) for r in recs.collect())
    assert got == [("1", "x"), ("2", "y")]


def test_manifest_filename_roundtrip(spark):
    cat = man.build_catalog_manifest(spark, anchor="2025-01-01", n_months=3)
    parsed = man.parse_datasus_filename(cat)
    for r in parsed.collect():
        assert r["tipo_parsed"] in ("PA", "PS", "RD")
        assert r["uf_parsed"] in ("PE", "AL")
        assert r["competencia"].endswith(r["yymm_parsed"][2:])
        assert r["link"].startswith("https://") and r["link"].endswith(".zip")


def test_tagged_ndjson_permissive_error_records(spark, tmp_path):
    """R5 error path: malformed lines surface as structured error records
    while good lines keep flowing — the job never fails."""
    from etl_lala_spark.sources import ndjson

    p = tmp_path / "tagged.ndjson"
    p.write_text(
        '{"tipo": "metadados", "arquivo": "PA2501.dbc", "total_colunas": 1, "colunas": ["A"]}\n'
        '{"tipo": "registro", "dados": {"A": "1"}}\n'
        "this is not json\n"
        '{"tipo": "whatever", "dados": {"A": "2"}}\n'
        '{"tipo": "registro", "dados": {"A": "3"}}\n'
    )
    meta, recs = ndjson.read_tagged_ndjson(spark, str(p), record_fields=["A"])
    assert meta.count() == 1
    assert {r["A"] for r in recs.collect()} == {"1", "3"}
    errors = {
        (r["raw_line"], r["error"])
        for r in ndjson.tagged_ndjson_errors(spark, str(p), ["A"]).collect()
    }
    assert ("this is not json", "malformed_json") in errors
    assert ('{"tipo": "whatever", "dados": {"A": "2"}}', "unknown_tipo") in errors
    assert len(errors) == 2


def test_dbf_projection_pushdown(spark, staging):
    cols = ["AP_MVM", "AP_CONDIC", "AP_VL_TOTAL"]
    rows = [["202501", "EP", "153.27"], ["202502", "PG", "99.10"]]
    data = dbc.write_dbf(cols, rows)

    # decoder-level pruning: only projected fields are decoded, file order kept
    got_cols, got_rows = dbc.parse_dbf(data, project=["AP_VL_TOTAL", "AP_MVM"])
    assert got_cols == ["AP_MVM", "AP_VL_TOTAL"]
    assert got_rows == [["202501", "153.27"], ["202502", "99.10"]]

    # distributed path: projected schema + provenance only
    zdir = os.path.join(staging, "dbfproj")
    os.makedirs(zdir, exist_ok=True)
    with open(os.path.join(zdir, "p.zip"), "wb") as fh:
        fh.write(_zip_bytes({"PAPE2502.dbf": data}))
    members = arc.extract_archive_members(
        arc.read_binary_files(spark, zdir, glob="*.zip"), suffix=".dbf"
    )
    records = dbc.read_dbf(members, project=["AP_CONDIC"])
    assert records.columns == ["AP_CONDIC", "arquivo_origem"]
    assert sorted(r["AP_CONDIC"] for r in records.collect()) == ["EP", "PG"]

    # and through the .dbc (implode) path
    from pyspark.sql import functions as F

    dbc_members = members.withColumn("content", F.udf(lambda b: dbc.dbf_to_dbc(bytes(b)), "binary")("content"))
    rec2 = dbc.read_dbc(dbc_members, project=["AP_MVM"])
    assert rec2.columns == ["AP_MVM", "arquivo_origem"]
    assert sorted(r["AP_MVM"] for r in rec2.collect()) == ["202501", "202502"]


def test_csv_and_orc_roundtrip_formats(spark, sf_dir, tmp_path):
    """Format coverage beyond parquet: lineitem survives a lossless round
    trip through CSV (explicit schema + header — CSV carries no types) and
    ORC; the ORC scan still takes predicate pushdown like parquet."""
    from pyspark.sql import functions as F

    from etl_lala_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(1000)

    csv_dir = str(tmp_path / "li_csv")
    li.write.option("header", True).csv(csv_dir)
    back_csv = spark.read.schema(li.schema).option("header", True).csv(csv_dir)
    assert sorted(map(tuple, back_csv.collect())) == sorted(map(tuple, li.collect()))

    orc_dir = str(tmp_path / "li_orc")
    li.write.orc(orc_dir)
    back_orc = spark.read.orc(orc_dir)
    assert back_orc.schema == li.schema
    assert sorted(map(tuple, back_orc.collect())) == sorted(map(tuple, li.collect()))
    plan = (
        back_orc.filter(F.col("l_quantity") > 25)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan


def test_xml_roundtrip_format(spark, tmp_path):
    """Spark 4 built-in XML source: typed roundtrip with rowTag framing
    (schema supplied on read — XML carries no types either)."""
    df = spark.createDataFrame(
        [(1, "EP", 153.27), (2, "PG", 99.10)], "id long, cond string, total double"
    )
    xml_dir = str(tmp_path / "recs_xml")
    df.write.option("rootTag", "records").option("rowTag", "rec").format("xml").save(xml_dir)
    back = (
        spark.read.schema(df.schema).option("rowTag", "rec").format("xml").load(xml_dir)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_dbc_python_datasource(spark, tmp_path):
    """Spark 4 Python DataSource wrapper around the S8 decode path
    (``spark.read.format("dbc")``): schema inference from the header prefix,
    one partition per file, per-file record-limit pushdown, and Spark 4.1
    ``pushFilters`` pruning whole files on the ``arquivo_origem`` provenance
    column at planning time — proven by a planted corrupt file that would
    fail the decode if it were ever opened."""
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_dbc_source(spark)

    d = str(tmp_path)
    cols = ["AP_CONDIC", "AP_VL_TOTAL"]
    for name, rows in [
        ("PAPE2501", [["EP", "10.00"], ["AB", "20.50"]]),
        ("PAPE2502", [["EP", "30.00"]]),
    ]:
        with open(os.path.join(d, name + ".dbc"), "wb") as fh:
            fh.write(dbc.dbf_to_dbc(dbc.write_dbf(cols, rows)))

    df = spark.read.format("dbc").load(d)
    assert df.columns == [*cols, "arquivo_origem"]
    assert df.rdd.getNumPartitions() == 2  # one partition per file
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        ("AB", "20.50", "PAPE2501"),
        ("EP", "10.00", "PAPE2501"),
        ("EP", "30.00", "PAPE2502"),
    ]

    # per-file record-limit pushdown (S9)
    lim = spark.read.format("dbc").option("limit", 1).load(d)
    assert lim.count() == 2  # 1 per file

    # planning-time file pruning: the corrupt file decodes to an error, so a
    # successful filtered read means it was pruned, never opened
    with open(os.path.join(d, "ZZZ9999.dbc"), "wb") as fh:
        fh.write(b"\x00" * 64)
    eq = spark.read.format("dbc").load(d).filter("arquivo_origem = 'PAPE2501'")
    assert eq.count() == 2
    pre = spark.read.format("dbc").load(d).filter("arquivo_origem LIKE 'PAPE%'")
    assert pre.count() == 3
    isin = (
        spark.read.format("dbc")
        .load(d)
        .filter("arquivo_origem IN ('PAPE2501', 'PAPE2502')")
    )
    assert isin.count() == 3
    with pytest.raises(Exception, match="implausible header"):
        spark.read.format("dbc").load(d).count()


def test_dbc_datasource_write_roundtrip(spark, tmp_path):
    """`df.write.format("dbc")` — the DataSource write path: each task
    writes one implode-compressed .dbc (temp-name + commit-rename, so
    failed tasks leave nothing visible), empty partitions produce no file,
    non-string schemas are rejected (the reference's record model is
    all-string), and a write→read round trip through the same format is
    lossless."""
    from pyspark.sql import functions as F

    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    register_dbc_source(spark)
    d = str(tmp_path / "out")
    df = spark.range(0, 50).select(
        F.col("id").cast("string").alias("AP_ID"),
        F.concat(F.lit("V"), F.col("id")).cast("string").alias("AP_VAL"),
    )
    # 8 partitions over 50 rows: some may be empty — no empty files allowed
    df.repartition(8).write.format("dbc").mode("overwrite").save(d)
    files = sorted(os.listdir(d))
    assert files and all(f.startswith("PART") and f.endswith(".dbc") for f in files)

    back = spark.read.format("dbc").load(d)
    assert sorted((r["AP_ID"], r["AP_VAL"]) for r in back.collect()) == sorted(
        (r["AP_ID"], r["AP_VAL"]) for r in df.collect()
    )

    with pytest.raises(Exception, match="all-string"):
        spark.range(3).write.format("dbc").mode("overwrite").save(d)


def test_register_views_enables_raw_sql(spark, sf_dir):
    """After register_views, users can run plain ANSI SQL against the same
    table names the DuckDB oracle uses."""
    from etl_lala_spark.io import TABLES, register_views

    assert register_views(spark, sf_dir) == list(TABLES)
    row = spark.sql(
        """
        SELECT n.n_name, count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY n_customers DESC, n.n_name LIMIT 1
        """
    ).first()
    assert row.n_customers > 0


def test_dbc_source_permissive_corrupt_file(spark, sf_dir, tmp_path):
    """R5 structured errors on the binary path: with corruptColumn set, an
    undecodable file yields one error row (provenance + message, data NULL)
    instead of failing the job; without it the job fails loudly."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_lala_spark.sources.dbc import write_dbf
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    register_dbc_source(spark)
    d = str(tmp_path / "mixed")
    os.makedirs(d)
    with open(os.path.join(d, "GOOD1.dbf"), "wb") as fh:
        fh.write(write_dbf(["A", "B"], [["1", "x"], ["2", "y"]], 4))
    with open(os.path.join(d, "ZBAD.dbc"), "wb") as fh:
        fh.write(b"\x99\x99 this is not an implode stream at all")

    with _pytest.raises(Exception):
        spark.read.format("dbc").load(d).count()

    got = (
        spark.read.format("dbc")
        .option("corruptColumn", "_error")
        .load(d)
        .collect()
    )
    good = [r for r in got if r["_error"] is None]
    bad = [r for r in got if r["_error"] is not None]
    assert sorted((r["A"], r["B"]) for r in good) == [("1", "x"), ("2", "y")]
    assert len(bad) == 1
    assert bad[0]["arquivo_origem"] == "ZBAD"
    assert bad[0]["A"] is None and bad[0]["B"] is None


def test_dbc_corrupt_column_collision_rejected(spark, tmp_path):
    """A corruptColumn naming a real data column (or the provenance column)
    would silently drop that column from reads — planning must fail loudly
    instead (ADVICE r01)."""
    import os

    import pytest as _pytest

    from etl_lala_spark.sources.dbc import write_dbf
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    register_dbc_source(spark)
    d = str(tmp_path / "coll")
    os.makedirs(d)
    with open(os.path.join(d, "T.dbf"), "wb") as fh:
        fh.write(write_dbf(["A", "B"], [["1", "x"]], 4))

    for bad in ("A", "arquivo_origem"):
        with _pytest.raises(Exception, match="collides"):
            spark.read.format("dbc").option("corruptColumn", bad).load(d).schema
    ok = spark.read.format("dbc").option("corruptColumn", "_err").load(d)
    assert ok.count() == 1


def test_fetch_to_staging_file_urls(spark, tmp_path):
    """Distributed fetch-to-staging (reference S5/R2/R5) over file:// URLs:
    ok on first pass, idempotent skip on replay, structured error rows for
    missing and oversized sources — no exceptions escape the job."""
    from etl_lala_spark.sources.fetch import fetch_to_staging

    src = tmp_path / "remote"
    src.mkdir()
    (src / "a.zip").write_bytes(b"A" * 100)
    (src / "b.zip").write_bytes(b"B" * 2048)
    staging = str(tmp_path / "staging")

    urls = [
        (f"file://{src}/a.zip",),
        (f"file://{src}/b.zip",),
        (f"file://{src}/missing.zip",),
    ]
    mf = spark.createDataFrame(urls, "url string")

    r1 = {r.url.rsplit("/", 1)[-1]: r for r in
          fetch_to_staging(mf, staging, retries=1, backoff_s=0.0).collect()}
    assert r1["a.zip"].status == "ok" and r1["a.zip"].n_bytes == 100
    assert r1["b.zip"].status == "ok" and r1["b.zip"].n_bytes == 2048
    assert r1["missing.zip"].status == "error"
    assert r1["missing.zip"].attempts == 2  # initial + 1 retry
    assert "Error" in r1["missing.zip"].error or "error" in r1["missing.zip"].error.lower()
    assert os.path.getsize(os.path.join(staging, "a.zip")) == 100

    # replay: already-staged files are skipped, the missing one retried
    r2 = {r.url.rsplit("/", 1)[-1]: r for r in
          fetch_to_staging(mf, staging, retries=0, backoff_s=0.0).collect()}
    assert r2["a.zip"].status == "skipped"
    assert r2["b.zip"].status == "skipped"
    assert r2["missing.zip"].status == "error"

    # size cap: body larger than max_bytes is an error row, file not staged
    r3 = fetch_to_staging(
        mf.filter("url like '%b.zip'"), str(tmp_path / "s2"),
        max_bytes=1024, retries=0, backoff_s=0.0,
    ).collect()[0]
    assert r3.status == "error" and "max_bytes" in r3.error
    assert not os.path.exists(os.path.join(str(tmp_path / "s2"), "b.zip"))

    # staged output chains into the binaryFile reader (S5 -> S6 path)
    scanned = arc.read_binary_files(spark, staging, glob="*.zip")
    assert scanned.count() == 2


def test_reference_pipeline_full_chain(spark, tmp_path):
    """The reference's complete monthly ETL, composed end-to-end in-engine:
    fetch the month's archive (S5, file:// stand-in) -> expand zip members
    (S6) -> DBC decode to string records (S8) -> idempotent partitioned load
    (S11/T5). Replaying the same manifest inserts zero rows."""
    from etl_lala_spark.sinks import writer
    from etl_lala_spark.sources.fetch import fetch_to_staging

    # "remote" archives: one zip per competencia, each with one .dbc member
    remote = tmp_path / "remote"
    remote.mkdir()
    cols = ["AP_MVM", "AP_CONDIC", "AP_VL_TOTAL"]
    for mvm, rows in {
        "202501": [["202501", "EP", "10.00"], ["202501", "PG", "20.00"]],
        "202502": [["202502", "EP", "30.00"]],
    }.items():
        blob = dbc.dbf_to_dbc(dbc.write_dbf(cols, rows))
        (remote / f"PA{mvm}.zip").write_bytes(
            _zip_bytes({f"PAPE{mvm[2:]}.dbc": blob})
        )

    staging = str(tmp_path / "staging")
    mf = spark.createDataFrame(
        [(f"file://{remote}/PA{m}.zip",) for m in ("202501", "202502")],
        "url string",
    )
    fetched = fetch_to_staging(mf, staging, retries=0).collect()
    assert all(r.status == "ok" for r in fetched)

    def decode_month_records():
        members = arc.extract_archive_members(
            arc.read_binary_files(spark, staging, glob="*.zip"), suffix=".dbc"
        )
        rec = dbc.read_dbc(members)
        return rec.withColumnRenamed("AP_MVM", "competencia")

    table = str(tmp_path / "warehouse" / "sia_pa")
    r1 = writer.load_incremental(spark, decode_month_records(), table)
    assert r1["tabela"]["criada_agora"] is True
    assert r1["registros_inseridos"] == 3

    # replay the whole chain: fetch skips staged files, load skips months
    assert all(
        r.status == "skipped"
        for r in fetch_to_staging(mf, staging, retries=0).collect()
    )
    r2 = writer.load_incremental(spark, decode_month_records(), table)
    assert r2["registros_inseridos"] == 0
    assert sorted(r2["competencias_existentes"]) == ["202501", "202502"]

    loaded = spark.read.parquet(table)
    assert loaded.count() == 3
    assert {r.competencia for r in loaded.select("competencia").collect()} == {
        "202501", "202502",
    }


def test_read_dbc_permissive_emits_error_rows(spark):
    """PERMISSIVE mode: corrupt members become one _decode_error row each
    (data columns NULL), good members decode fully; FAILFAST raises."""
    import pytest

    from etl_lala_spark.sources.dbc import dbf_to_dbc, read_dbc, write_dbf

    import struct

    good = dbf_to_dbc(write_dbf(["A"], [["x"], ["y"]]))
    # valid header + garbage payload: passes the container sniff and fails
    # INSIDE implode.decompress — the past-header corruption path, which
    # trunc/junk (both header-sniff failures) do not reach
    dbf = write_dbf(["A"], [["z"]])
    hl = struct.unpack("<H", dbf[8:10])[0]
    pastheader = dbf[:hl] + b"\x00\x00\x00\x00" + b"\xff" * 32
    df = spark.createDataFrame(
        [
            ("ok.dbc", bytearray(good)),
            ("trunc.dbc", bytearray(good[: len(good) // 2])),
            ("junk.dbc", bytearray(b"definitely not a dbc file")),
            ("pastheader.dbc", bytearray(pastheader)),
        ],
        "member_basename string, content binary",
    )
    out = read_dbc(df, columns=["A"], mode="PERMISSIVE").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["arquivo_origem"], []).append(r)
    assert [r["A"] for r in by_src["ok"]] == ["x", "y"]
    assert all(r["_decode_error"] is None for r in by_src["ok"])
    for bad in ("trunc", "junk", "pastheader"):
        rows = by_src[bad]
        assert len(rows) == 1
        assert rows[0]["A"] is None
        assert rows[0]["_decode_error"]

    with pytest.raises(Exception):
        read_dbc(df, columns=["A"]).collect()

    with pytest.raises(ValueError, match="unknown mode"):
        read_dbc(df, columns=["A"], mode="DROPMALFORMED")


def test_archive_expansion_permissive_and_member_cap(spark, tmp_path):
    """R5 on the expansion path: a corrupt archive and an over-cap member
    become structured error rows under permissive=True (good members keep
    flowing); FAILFAST raises on the cap; default behavior is unchanged."""
    import pytest as _pytest

    zdir = str(tmp_path / "zips")
    os.makedirs(zdir)
    with open(os.path.join(zdir, "good.zip"), "wb") as fh:
        fh.write(_zip_bytes({"SMALL.dbc": b"s" * 10, "BIG.dbc": b"b" * 5000}))
    with open(os.path.join(zdir, "corrupt.zip"), "wb") as fh:
        fh.write(b"PK\x03\x04 this is not a valid zip archive")

    archives = arc.read_binary_files(spark, zdir, glob="*.zip")

    # Permissive: 1 good row + 1 cap row + 1 corrupt-archive row.
    rows = arc.extract_archive_members(
        archives, suffix=".dbc", max_member_bytes=1000, permissive=True
    ).collect()
    by_member = {r["member"]: r for r in rows}
    ok = by_member["SMALL.dbc"]
    assert ok["_error"] is None and ok["n_bytes"] == 10
    cap = by_member["BIG.dbc"]
    assert cap["content"] is None and "cap" in cap["_error"]
    (bad,) = [r for r in rows if r["member"] is None]
    assert bad["archive"].endswith("corrupt.zip") and bad["_error"]

    # FAILFAST: the cap raises instead of emitting rows.
    good_only = archives.filter("path like '%good.zip'")
    with _pytest.raises(Exception, match="cap"):
        arc.extract_archive_members(
            good_only, suffix=".dbc", max_member_bytes=1000
        ).collect()

    # Default (no cap, fail-fast) still decodes the good archive unchanged,
    # with the original 5-column schema (no _error column).
    legacy = arc.extract_archive_members(good_only, suffix=".dbc")
    assert "_error" not in legacy.columns
    assert legacy.count() == 2


def test_fetch_cap_exceeded_not_retried(spark, tmp_path):
    """The max_bytes cap is permanent: even with retries budgeted, an
    oversized body errors on attempt 1 (no re-download), reports the
    documented ValueError class, and leaves no .part debris."""
    from etl_lala_spark.sources.fetch import fetch_to_staging

    src = tmp_path / "remote"
    src.mkdir()
    (src / "big.zip").write_bytes(b"B" * 4096)
    staging = str(tmp_path / "staging")
    mf = spark.createDataFrame([(f"file://{src}/big.zip",)], "url string")
    (row,) = fetch_to_staging(
        mf, staging, max_bytes=1024, retries=3, backoff_s=0.0
    ).collect()
    assert row.status == "error"
    assert row.attempts == 1  # NOT 4: cap violations never retry
    assert row.error.startswith("ValueError:") and "max_bytes" in row.error
    assert not os.path.exists(os.path.join(staging, "big.zip"))
    assert not os.path.exists(os.path.join(staging, "big.zip.part"))


def test_fetch_to_staging_http_contract(spark, tmp_path, job_group):
    """The fetch keeps urllib's contract over loopback HTTP: a 404 is an
    HTTPError after retries + 1 attempts, a 503 once ends ok on attempt 2,
    a missing file:// path is a URLError, a URL without a scheme a
    ValueError, and a NULL url a ValueError row with no request. Building
    the frame (explain, schema) stages nothing, a local manifest fetches
    inside a Spark job, every attempt is one request, and names default to
    the URL's basename, or ``index``."""
    import threading
    from collections import Counter

    from etl_lala_spark.io import tiny_df
    from etl_lala_spark.plans._gates import QuietHandler, loopback_server
    from etl_lala_spark.sources.fetch import fetch_to_staging

    hits: Counter = Counter()
    lock = threading.Lock()

    class Handler(QuietHandler):
        def do_GET(self):
            with lock:
                hits[self.path] += 1
                n = hits[self.path]
            if self.path == "/gone.zip" or (self.path == "/flaky.zip" and n == 1):
                self.send_error(404 if self.path == "/gone.zip" else 503)
                return
            body = self.path.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    staging = str(tmp_path / "staging")
    with loopback_server(Handler) as base:
        urls = ["gone.zip", "flaky.zip", "ok.zip", "dir/"]
        mf = tiny_df(
            spark,
            [(f"{base}/{u}",) for u in urls]
            + [(f"file://{tmp_path}/missing.zip",), ("/",), (None,)],
            "url string",
        )
        fetched = fetch_to_staging(mf, staging, retries=2, backoff_s=0.01)
        fetched.explain()
        assert fetched.schema.simpleString() == (
            "struct<url:string,dest:string,n_bytes:bigint,status:string,attempts:int,error:string>"
        )
        assert not os.path.exists(staging) and not hits
        with job_group("fetch_contract") as jobs:
            collected = fetched.collect()
    assert len(jobs) >= 1
    rows = {os.path.basename(r.dest): r for r in collected if r.url is not None}
    (null,) = [r for r in collected if r.url is None]
    assert (null.dest, null.status, null.attempts, null.error) == (
        None, "error", 0, "ValueError: url is NULL"
    )

    gone = rows["gone.zip"]
    assert (gone.status, gone.attempts, gone.n_bytes) == ("error", 3, 0)
    assert gone.error == "HTTPError: HTTP Error 404: Not Found"
    flaky = rows["flaky.zip"]
    assert (flaky.status, flaky.attempts, flaky.n_bytes) == ("ok", 2, len("/flaky.zip"))
    assert rows["ok.zip"].status == "ok" and rows["dir"].status == "ok"
    with open(os.path.join(staging, "dir"), "rb") as fh:
        assert fh.read() == b"/dir/"
    missing = rows["missing.zip"]
    assert (missing.status, missing.attempts) == ("error", 3)
    assert missing.error.startswith("URLError: ")
    index = rows["index"]
    assert index.dest == os.path.join(staging, "index")
    assert index.error == "ValueError: unknown url type: '/'"
    # one request per attempt: no row is fetched twice
    assert hits == {"/gone.zip": 3, "/flaky.zip": 2, "/ok.zip": 1, "/dir/": 1}
    assert not [n for n in os.listdir(staging) if n.endswith(".part")]


def test_ingest_chain_driver_budget(spark, tmp_path, monkeypatch, job_group):
    """Driver cost of one DATASUS ingest op (fetch → binaryFile → ZIP →
    DBC → incremental load) on a 12-column table, cold and replayed with a
    new month: 3 Spark jobs per op (fetch, schema inference, load), no
    Python eval node in the fetch or decode plans, at most 300 py4j round
    trips per op and 500 for a 120-column ``read_dbc`` plan. Round trips
    are py4j commands sent, less py4j's own garbage-collection deletes."""
    import py4j.clientserver
    from pyspark.sql import functions as F

    from etl_lala_spark.io import tiny_df
    from etl_lala_spark.sinks import writer
    from etl_lala_spark.sources.fetch import fetch_to_staging

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from plan_audit import executed_scan_counts

    sent = [0]
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted)

    cols = [f"PA_C{i:02d}" for i in range(11)] + ["PA_MVM"]
    remote = tmp_path / "remote"
    remote.mkdir()
    months = ["202501", "202502", "202503"]
    for m in months:
        rows = [[f"{m}{i}{j}" for j in range(11)] + [m] for i in range(5)]
        (remote / f"PA{m}.zip").write_bytes(
            _zip_bytes({f"PAPE{m[2:]}.dbc": dbc.dbf_to_dbc(dbc.write_dbf(cols, rows))})
        )
    staging, table = str(tmp_path / "staging"), str(tmp_path / "table")

    def op(phase: str, manifest: list[str]):
        with job_group(phase) as jobs:
            before = sent[0]
            fetched = fetch_to_staging(
                tiny_df(spark, [(f"file://{remote}/PA{m}.zip", f"PA{m}.zip") for m in manifest],
                        "url string, name string"),
                staging, name_col="name",
            )
            statuses = [r.status for r in fetched.collect()]
            members = arc.extract_archive_members(arc.read_binary_files(spark, staging, glob="*.zip"))
            records = dbc.read_dbc(members)
            res = writer.load_incremental(
                spark, records.withColumn("competencia", F.col("PA_MVM")), table
            )
            trips = sent[0] - before
        return statuses, res, fetched, trips, len(jobs)

    statuses, res, fetched, trips, jobs = op("ingest_budget_cold", months[:2])
    assert statuses == ["ok", "ok"] and res["registros_inseridos"] == 10
    assert jobs == 3, jobs
    assert trips <= 300, trips
    statuses, res, fetched, trips, jobs = op("ingest_budget_replay", months)
    assert statuses == ["skipped", "skipped", "ok"] and res["registros_inseridos"] == 5
    assert jobs == 3, jobs
    assert trips <= 300, trips

    assert executed_scan_counts(fetched)["python_eval"] == 0
    members = arc.extract_archive_members(arc.read_binary_files(spark, staging, glob="*.zip"))
    decoded = dbc.read_dbc(members, columns=cols)
    assert decoded.count() == 15
    assert executed_scan_counts(decoded)["python_eval"] == 0

    wide = [f"C{i:03d}" for i in range(120)]
    before = sent[0]
    dbc.read_dbc(members, columns=wide)
    assert sent[0] - before <= 500, sent[0] - before


def test_read_dbf_keeps_odd_and_duplicate_names(spark):
    """Column names with a dot, a space or a backtick, and a repeated DBF
    name, come out as written, each with its own field's values."""
    names = ["A.B", "C D", "E`F", "A.B"]
    data = dbc.write_dbf(names, [["1", "2", "3", "4"], ["5", "6", "7", "8"]], field_len=3)
    df = spark.createDataFrame([("T.dbf", bytearray(data))], "member_basename string, content binary")
    out = dbc.read_dbf(df)
    assert out.columns == names + ["arquivo_origem"]
    assert [tuple(r) for r in out.collect()] == [("1", "2", "3", "4", "T"), ("5", "6", "7", "8", "T")]
    assert [tuple(r) for r in dbc.read_dbf(df, project=["E`F"]).collect()] == [("3", "T"), ("7", "T")]


def test_dbf_wide_header_inference(spark, tmp_path):
    """A >126-field DBF has a header past 4 KiB; schema inference (both the
    mapInPandas helper and the DataSource planner) must read the declared
    header length, not a fixed prefix."""
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    register_dbc_source(spark)
    cols = [f"C{i:03d}" for i in range(130)]
    data = dbc.write_dbf(cols, [[str(i) for i in range(130)]], field_len=4)
    assert 32 + 32 * 130 + 1 > 4096  # the regression precondition

    df = spark.createDataFrame(
        [("wide.dbf", bytearray(data))],
        "member_basename string, content binary",
    )
    assert dbc.infer_dbf_columns(df) == cols

    d = str(tmp_path / "wide")
    os.makedirs(d)
    with open(os.path.join(d, "WIDE.dbf"), "wb") as fh:
        fh.write(data)
    got = spark.read.format("dbc").load(d)
    assert [f for f in got.columns if f != "arquivo_origem"] == cols
    (r,) = got.collect()
    assert r["C129"] == "129"


def test_dbc_writer_append_does_not_clobber(spark, tmp_path):
    """mode=append must continue PART numbering after existing files; a
    second append used to silently overwrite PART0000 of the first."""
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    register_dbc_source(spark)
    d = str(tmp_path / "out")
    df1 = spark.createDataFrame([("a",)], "X string").coalesce(1)
    df2 = spark.createDataFrame([("b",)], "X string").coalesce(1)
    df1.write.format("dbc").option("path", d).mode("append").save()
    df2.write.format("dbc").option("path", d).mode("append").save()
    back = spark.read.format("dbc").load(d)
    assert sorted(r["X"] for r in back.collect()) == ["a", "b"]


# --- WARC / Common Crawl ingestion -------------------------------------------


def _warc_gz(records: list[bytes]) -> bytes:
    """Common Crawl layout: each record its own gzip member."""
    import gzip

    return b"".join(gzip.compress(r, compresslevel=1) for r in records)


def _mk_warc_records():
    from etl_lala_spark.sources import warc as w

    uri = "http://example.com/a"
    return [
        w.warc_record_bytes("warcinfo", b"software: test"),
        w.warc_record_bytes("request", b"GET /a HTTP/1.1", target_uri=uri),
        w.warc_record_bytes(
            "response",
            w.http_response_bytes(200, b"<html>hello</html>"),
            target_uri=uri,
            record_id="<urn:uuid:1>",
            warc_date="2024-01-01T00:00:00Z",
        ),
        w.warc_record_bytes(
            "response",
            w.http_response_bytes(404, b"gone", content_type="text/plain"),
            target_uri="http://example.com/b",
        ),
    ]


def test_warc_extract_members_offsets_and_http_split(spark):
    """Record expansion from the member-per-record gzip layout: ALL-records
    ordinals, self-consistent member offsets (cumulative, re-decodable),
    HTTP envelope split off response payloads, non-response types kept
    whole when types=None."""
    import gzip
    import zlib

    import pandas as pd

    from etl_lala_spark.sources import warc as w

    records = _mk_warc_records()
    blob = _warc_gz(records)
    warcs = spark.createDataFrame(
        pd.DataFrame({"path": ["mem://t.warc.gz"], "content": [blob]})
    )
    rows = (
        w.extract_warc_records(warcs, types=None)
        .orderBy("record_index")
        .collect()
    )
    assert [r["record_index"] for r in rows] == [0, 1, 2, 3]
    assert [r["warc_type"] for r in rows] == [
        "warcinfo", "request", "response", "response",
    ]
    # member offsets: cumulative sum of member_bytes, and each compressed
    # slice re-decodes to the record bytes we wrote
    off = 0
    for r, rec in zip(rows, records):
        assert r["member_offset"] == off
        sl = blob[r["member_offset"] : r["member_offset"] + r["member_bytes"]]
        assert zlib.decompress(sl, 31) == rec
        off += r["member_bytes"]
    # HTTP split on responses: status/ctype parsed, payload is the BODY
    assert rows[2]["http_status"] == 200
    assert rows[2]["http_content_type"] == "text/html"
    assert bytes(rows[2]["payload"]) == b"<html>hello</html>"
    assert rows[2]["n_payload_bytes"] == 18
    assert rows[2]["content_length"] > 18  # envelope counted in the block
    assert rows[3]["http_status"] == 404
    assert rows[3]["http_content_type"] == "text/plain"
    # non-HTTP records pass their whole block through
    assert rows[0]["http_status"] is None
    assert bytes(rows[0]["payload"]) == b"software: test"
    # default types=("response",) filter keeps ordinals from the full file
    resp = (
        w.extract_warc_records(warcs).orderBy("record_index").collect()
    )
    assert [r["record_index"] for r in resp] == [2, 3]
    # a plain (uncompressed, concatenated) .warc parses identically
    plain = spark.createDataFrame(
        pd.DataFrame({"path": ["mem://t.warc"], "content": [b"".join(records)]})
    )
    prows = w.extract_warc_records(plain, types=None).collect()
    assert len(prows) == 4 and all(r["member_offset"] == 0 for r in prows)
    assert gzip.decompress(blob[: rows[0]["member_bytes"]]) == records[0]


def test_warc_extract_permissive_errors_and_cap(spark):
    """R5 convention at the web layer: a truncated gzip member, a malformed
    version line, and an over-cap Content-Length each become ONE structured
    error row; good files are unaffected; strict mode raises."""
    import pandas as pd

    from etl_lala_spark.sources import warc as w

    records = _mk_warc_records()
    good = _warc_gz(records)
    truncated = good[: len(good) - 7]
    bad_version = _warc_gz([b"WARF/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n"])
    big = _warc_gz(
        [
            w.warc_record_bytes(
                "response",
                w.http_response_bytes(200, b"B" * 300),
                target_uri="http://example.com/big",
            )
        ]
    )
    warcs = spark.createDataFrame(
        pd.DataFrame(
            {
                "path": [
                    "mem://good.warc.gz",
                    "mem://trunc.warc.gz",
                    "mem://badver.warc.gz",
                    "mem://big.warc.gz",
                ],
                "content": [good, truncated, bad_version, big],
            }
        )
    )
    out = w.extract_warc_records(
        warcs, types=("response",), max_payload_bytes=200, permissive=True
    ).collect()
    by_file: dict[str, list] = {}
    for r in out:
        by_file.setdefault(r["file"], []).append(r)
    assert [r["_error"] for r in by_file["mem://good.warc.gz"]] == [None, None]
    # truncation kills the LAST member; earlier complete records salvage
    trunc_rows = by_file["mem://trunc.warc.gz"]
    assert [r["_error"] is None for r in trunc_rows] == [True, False]
    assert trunc_rows[0]["http_status"] == 200
    tr = trunc_rows[1]
    assert tr["_error"].startswith("ValueError") and "truncated" in tr["_error"]
    assert tr["record_index"] is None and tr["payload"] is None
    (bv,) = by_file["mem://badver.warc.gz"]
    assert "bad WARC version" in bv["_error"]
    (bg,) = by_file["mem://big.warc.gz"]
    assert "> cap 200" in bg["_error"] and bg["payload"] is None
    assert bg["target_uri"] == "http://example.com/big"  # headers survive

    import pytest as _pytest

    from py4j.protocol import Py4JJavaError

    strict = w.extract_warc_records(
        warcs.filter("path = 'mem://trunc.warc.gz'"), permissive=False
    )
    with _pytest.raises(Exception) as exc_info:
        strict.collect()
    assert "truncated" in str(exc_info.value) or isinstance(
        exc_info.value, Py4JJavaError
    )


def test_warc_gzip_member_split_is_linear():
    """The gzip member split feeds the decompressor bounded chunks, so 4×
    the members costs at most about 5× the time; a split that hands each
    member the rest of the file is O(n²) and fails here."""
    import gzip
    import random
    import time

    from etl_lala_spark.sources import warc as w

    rng = random.Random(7)

    def blob(n: int) -> bytes:
        return b"".join(gzip.compress(b"WARC/1.0\r\n" + rng.randbytes(200)) for _ in range(n))

    def split(data: bytes) -> float:
        t = time.perf_counter()
        sum(1 for _ in w._iter_gzip_members(data))
        return time.perf_counter() - t

    small, large = blob(4000), blob(16000)
    assert sum(1 for _ in w._iter_gzip_members(large)) == 16000
    # interleaved, best of 7: the least disturbed run of each size
    times = [(split(small), split(large)) for _ in range(7)]
    assert min(t[1] for t in times) <= 5 * min(t[0] for t in times)


def test_warc_to_main_content_line_dedup_chain(spark):
    """The crawl pipeline end-to-end: WARC responses -> HTML body -> good
    blocks (extraction) at line grain -> cross-doc line dedup. Two pages
    share a boilerplate paragraph; line_dedup removes it from BOTH (the
    RefinedWeb/FineWeb rule) and keeps each page's unique sentence."""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_lala_spark.operators import dedup as dd_ops
    from etl_lala_spark.operators import text as tx
    from etl_lala_spark.sources import warc as w

    shared = "subscribe to our newsletter for the latest updates and offers"
    uniq = {
        1: "the quick brown fox jumps over the lazy dog near the river"
           " bank today",
        2: "a slow green turtle walks under the warm sun by the quiet"
           " shore all day",
    }
    recs = [
        w.warc_record_bytes(
            "response",
            w.http_response_bytes(
                200,
                f"<html><body><p>{u}</p><p>{shared}</p></body></html>".encode(),
            ),
            target_uri=f"http://example.com/doc{d}",
        )
        for d, u in uniq.items()
    ]
    warcs = spark.createDataFrame(
        pd.DataFrame({"path": ["mem://c.warc.gz"], "content": [_warc_gz(recs)]})
    )
    html = w.extract_warc_records(warcs).select(
        F.regexp_extract("target_uri", r"doc(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("payload").cast("string").alias("html"),
    )
    # extraction at LINE grain: one line per good block, page order
    good = tx.html_blocks(html).filter(F.col("cls") == "good")
    lines = good.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("block_rank", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text")
    )
    assert {
        r["doc_id"]: r["text"].count(shared) for r in lines.collect()
    } == {1: 1, 2: 1}
    out = {
        r["doc_id"]: r
        for r in dd_ops.line_dedup(lines, min_docs=2).collect()
    }
    for d in (1, 2):
        assert out[d]["n_lines"] == 2 and out[d]["n_removed"] == 1
        assert out[d]["clean_text"] == uniq[d]


def test_warc_http_wire_decodings(spark):
    """Crawled HTTP arrives wearing wire encodings: chunked transfer
    framing, gzip/deflate content coding, and bare-LF envelopes. Each must
    decode to the page bytes (never leak chunk-size lines / compressed
    bytes / the HTTP envelope into 'content'); broken chunk framing becomes
    a structured error row."""
    import gzip as _gzip
    import zlib

    import pandas as pd

    from etl_lala_spark.sources import warc as w

    page = b"<html><body>decoded page text</body></html>"
    chunked = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        + b"a\r\n" + page[:10] + b"\r\n"
        + hex(len(page) - 10)[2:].encode() + b"\r\n" + page[10:] + b"\r\n"
        + b"0\r\n\r\n"
    )
    gz_body = _gzip.compress(page)
    gzipped = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\nContent-Length: "
        + str(len(gz_body)).encode() + b"\r\n\r\n" + gz_body
    )
    _raw = zlib.compressobj(wbits=-15)
    raw_deflate_body = _raw.compress(page) + _raw.flush()
    deflated_raw = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
        + raw_deflate_body
    )
    deflated = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n"
        + zlib.compress(page)
    )
    lf_only = b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n" + page
    bad_chunk = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"ZZ\r\nnot hex\r\n0\r\n\r\n"
    )
    recs = {
        "chunked": chunked,
        "gzipped": gzipped,
        "deflated": deflated,
        "deflated_raw": deflated_raw,
        "lf_only": lf_only,
        "bad_chunk": bad_chunk,
    }
    warcs = spark.createDataFrame(
        pd.DataFrame(
            {
                "path": [f"mem://{k}.warc.gz" for k in recs],
                "content": [
                    _warc_gz(
                        [
                            w.warc_record_bytes(
                                "response", blk,
                                target_uri=f"http://example.com/{k}",
                            )
                        ]
                    )
                    for k, blk in recs.items()
                ],
            }
        )
    )
    rows = {
        r["file"].split("//")[1].split(".")[0]: r
        for r in w.extract_warc_records(warcs, permissive=True).collect()
    }
    for k in ("chunked", "gzipped", "deflated", "deflated_raw", "lf_only"):
        assert rows[k]["_error"] is None, (k, rows[k]["_error"])
        assert bytes(rows[k]["payload"]) == page, k
        assert rows[k]["http_status"] == 200
    assert rows["lf_only"]["http_content_type"] == "text/html"
    assert "bad size line" in rows["bad_chunk"]["_error"]


def test_warc_record_level_decode_error_isolation(spark):
    """One mis-framed chunked body inside a multi-record WARC becomes one
    error row; the file's OTHER records still decode (per-record, not
    per-file, error boundary)."""
    import pandas as pd

    from etl_lala_spark.sources import warc as w

    good1 = w.warc_record_bytes(
        "response", w.http_response_bytes(200, b"first page"),
        target_uri="http://e/1",
    )
    bad = w.warc_record_bytes(
        "response",
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZ\r\nx\r\n0\r\n\r\n",
        target_uri="http://e/2",
    )
    good2 = w.warc_record_bytes(
        "response", w.http_response_bytes(200, b"third page"),
        target_uri="http://e/3",
    )
    warcs = spark.createDataFrame(
        pd.DataFrame(
            {"path": ["mem://m.warc.gz"], "content": [_warc_gz([good1, bad, good2])]}
        )
    )
    rows = sorted(
        w.extract_warc_records(warcs, permissive=True).collect(),
        key=lambda r: r["record_index"],
    )
    assert [r["record_index"] for r in rows] == [0, 1, 2]
    assert bytes(rows[0]["payload"]) == b"first page"
    assert rows[1]["_error"] and "bad size line" in rows[1]["_error"]
    assert rows[1]["target_uri"] == "http://e/2"  # headers survive
    assert bytes(rows[2]["payload"]) == b"third page"
    assert rows[2]["_error"] is None


def _python_nodes(df) -> list[str]:
    """Python-worker nodes in ``df``'s executed plan (collect it first)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF")
    return [n for n in names if n in plan]


def test_fetch_ranges_semantics(spark, tmp_path):
    """Ranged fetch over file-backed loopback HTTP: exact 206 ranges, the
    200 no-range-support fallback slices locally, a short range and an
    over-cap range become structured error rows, a 404 exhausts retries,
    a file:// source is sliced from its stream, and a NULL url, offset or
    length is a ValueError row with no request. The plan runs no Python
    worker."""
    import re

    from etl_lala_spark.plans._gates import QuietHandler, loopback_server
    from etl_lala_spark.sources.fetch import fetch_ranges

    data = bytes(range(256)) * 4  # 1024 bytes
    (tmp_path / "f.bin").write_bytes(data)

    class H(QuietHandler):
        def do_GET(self):
            if self.path == "/missing":
                self.send_error(404)
                return
            rng = self.headers.get("Range")
            if self.path == "/norange" or not rng:
                body, code = data, 200
            else:
                m = re.match(r"bytes=(\d+)-(\d+)$", rng)
                lo, hi = int(m.group(1)), int(m.group(2))
                body, code = data[lo : hi + 1], 206
            self.send_response(code)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    with loopback_server(H) as base:
        plan = spark.createDataFrame(
            [
                (f"{base}/f", 10, 20),      # true 206
                (f"{base}/norange", 5, 7),  # 200 fallback
                (f"{base}/f", 1000, 100),   # short range
                (f"{base}/f", 0, 10_000),   # over cap
                (f"{base}/missing", 0, 4),  # 404
                (f"file://{tmp_path}/f.bin", 100, 30),  # no range support
                (None, 0, 4),
                (f"{base}/f", None, 4),
                (f"{base}/f", 7, None),
            ],
            "url string, offset long, length long",
        )
        rows = fetch_ranges(plan, max_bytes=2048, retries=1, backoff_s=0.01)
        assert rows.schema.simpleString() == (
            "struct<url:string,offset:bigint,length:bigint,content:binary,"
            "fetch_status:int,status:string,attempts:int,error:string>"
        )
        collected = rows.collect()
        assert _python_nodes(rows) == []
        got = {(r["url"].rsplit("/", 1)[-1], r["offset"]): r
               for r in collected if r["url"] is not None}
        r206 = got[("f", 10)]
        assert r206["status"] == "ok" and r206["fetch_status"] == 206
        assert bytes(r206["content"]) == data[10:30]
        rfall = got[("norange", 5)]
        assert rfall["status"] == "ok" and rfall["fetch_status"] == 200
        assert bytes(rfall["content"]) == data[5:12]
        assert got[("f", 1000)]["status"] == "error"
        assert "short_range" in got[("f", 1000)]["error"]
        over = got[("f", 0)]
        assert over["status"] == "error" and over["attempts"] == 0
        miss = got[("missing", 0)]
        assert miss["status"] == "error" and miss["attempts"] == 2
        assert "HTTPError" in miss["error"]
        local = got[("f.bin", 100)]
        assert (local["status"], local["fetch_status"], local["attempts"]) == ("ok", None, 1)
        assert bytes(local["content"]) == data[100:130]
        nulls = [got[("f", None)], got[("f", 7)]] + [r for r in collected if r["url"] is None]
        assert [(r["status"], r["attempts"], r["error"]) for r in nulls] == [
            ("error", 0, "ValueError: offset is NULL"),
            ("error", 0, "ValueError: length is NULL"),
            ("error", 0, "ValueError: url is NULL"),
        ]
        assert nulls[1]["offset"] == 7 and nulls[2]["length"] == 4

        # deep offset on a range-less server: offset+length far exceeds the
        # cap but the RANGE LENGTH is under it — the prefix is discarded
        # while streaming, so the fetch succeeds (advice r9)
        deep = fetch_ranges(
            spark.createDataFrame(
                [(f"{base}/norange", 900, 50)],
                "url string, offset long, length long",
            ),
            max_bytes=100, retries=0, backoff_s=0.01,
        ).collect()[0]
        assert deep["status"] == "ok" and deep["fetch_status"] == 200
        assert bytes(deep["content"]) == data[900:950]


def test_fetch_conditional_error_paths(spark, tmp_path):
    """Conditional fetch R5 semantics: a 404 exhausts retries into an
    error row; an over-cap body is a permanent error on attempt 1; a 304
    carries prior validators forward even when only one was sent; a
    file:// source is ok with NULL validators; a NULL url is a ValueError
    row with no request. The plan runs no Python worker."""
    from etl_lala_spark.plans._gates import QuietHandler, loopback_server
    from etl_lala_spark.sources.fetch import fetch_conditional

    (tmp_path / "local").write_bytes(b"on disk")

    class H(QuietHandler):
        def do_GET(self):
            if self.path == "/missing":
                self.send_error(404)
                return
            if self.path == "/big":
                body = b"x" * 4096
            elif self.headers.get("If-None-Match") == '"e1"':
                self.send_response(304)
                self.end_headers()
                return
            else:
                body = b"ok"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    with loopback_server(H) as base:
        plan = spark.createDataFrame(
            [
                (f"{base}/missing", None, None),
                (f"{base}/big", None, None),
                (f"{base}/page", '"e1"', None),
                (f"file://{tmp_path}/local", '"e1"', "Wed, 01 Jan 2025 00:00:00 GMT"),
                (None, '"e1"', None),
            ],
            "url string, etag string, last_modified string",
        )
        fetched = fetch_conditional(plan, max_bytes=1024, retries=1, backoff_s=0.01)
        assert fetched.schema.simpleString() == (
            "struct<url:string,status:string,fetch_status:int,content:binary,"
            "n_bytes:bigint,etag:string,last_modified:string,attempts:int,error:string>"
        )
        collected = fetched.collect()
        assert _python_nodes(fetched) == []
        got = {r["url"].rsplit("/", 1)[-1]: r for r in collected if r["url"] is not None}
        miss = got["missing"]
        assert miss["status"] == "error" and miss["attempts"] == 2
        assert "HTTPError" in miss["error"]
        big = got["big"]
        assert big["status"] == "error" and big["attempts"] == 1
        assert "max_bytes" in big["error"]
        nm = got["page"]
        assert nm["status"] == "not_modified" and nm["fetch_status"] == 304
        assert nm["etag"] == '"e1"' and nm["last_modified"] is None
        assert nm["content"] is None and nm["n_bytes"] == 0
        local = got["local"]
        assert (local["status"], local["fetch_status"], local["attempts"]) == ("ok", None, 1)
        assert bytes(local["content"]) == b"on disk" and local["n_bytes"] == 7
        assert local["etag"] is None and local["last_modified"] is None
        (null,) = [r for r in collected if r["url"] is None]
        assert (null["status"], null["attempts"], null["error"], null["etag"]) == (
            "error", 0, "ValueError: url is NULL", None
        )
