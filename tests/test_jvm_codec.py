"""Differential tests of the JVM codec (sources/jvm/DbcCodec.java) against
the Python reference codecs it replaces on the read path: DCL explode
against ``implode.decompress`` byte for byte, the DBF record split against
``dbc.parse_dbf_columns``, and ZIP member expansion against ``zipfile``;
plus the codec's session lifecycle and the Python-free read plan."""

from __future__ import annotations

import io
import os
import random
import struct
import subprocess
import sys
import textwrap
import zipfile

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_lala_spark.sources import archive as arc
from etl_lala_spark.sources import dbc, implode

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jvm_explode(spark, data: bytes) -> tuple[str, bytes | None]:
    """("ok", output) or (error class, None) from ``DbcCodec.explode``."""
    from py4j.protocol import Py4JJavaError

    from etl_lala_spark.sources._jvm import codec

    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    types = gateway.new_array(jvm.java.lang.Class, 1)
    types[0] = jvm.java.lang.Class.forName("[B")
    args = gateway.new_array(jvm.java.lang.Object, 1)
    args[0] = bytearray(data)
    try:
        return "ok", bytes(codec(spark).getClass().getMethod("explode", types).invoke(None, args))
    except Py4JJavaError as exc:  # InvocationTargetException around DecodeError
        return exc.java_exception.getCause().getMessage().split(":", 1)[0], None


def _py_explode(data: bytes) -> tuple[str, bytes | None]:
    try:
        return "ok", implode.decompress(data)
    except implode.CorruptError as exc:
        return type(exc).__name__, None


def _token_stream(rng: random.Random, coded: bool, dict_bits: int, n_tokens: int) -> bytes:
    """A random valid implode stream: coded or uncoded literals, matches of
    every length code (overlapping ones whenever dist < length), and
    length-2 pairs with their 2-bit distance tail. Test-only; the engine's
    encoder stays literal-only."""
    lit = implode._canonical_codes(implode._LITCODE)
    lens = implode._canonical_codes(implode._LENCODE)
    dists = implode._canonical_codes(implode._DISTCODE)
    base, extra = implode._LEN_BASE, implode._LEN_EXTRA
    out = bytearray([int(coded), dict_bits])
    acc = nbits = 0

    def put(val: int, n: int) -> None:
        nonlocal acc, nbits
        acc |= val << nbits
        nbits += n
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def put_code(code: int, ln: int) -> None:
        for i in range(ln - 1, -1, -1):
            put(((code >> i) & 1) ^ 1, 1)

    def put_length(length: int) -> None:
        sym = next(s for s in range(16) if base[s] <= length < base[s] + (1 << extra[s]))
        put(1, 1)
        put_code(*lens[sym])
        put(length - base[sym], extra[sym])

    produced = 0
    for _ in range(n_tokens):
        if produced == 0 or rng.random() < 0.5:
            b = rng.randrange(256)
            put(0, 1)
            if coded:
                put_code(*lit[b])
            else:
                put(b, 8)
            produced += 1
            continue
        length = rng.choice([2, 2, 3, rng.randrange(2, 20), rng.randrange(2, 519)])
        low = 2 if length == 2 else dict_bits
        dist = rng.randrange(1, min(produced, 64 << low) + 1)
        put_length(length)
        put_code(*dists[(dist - 1) >> low])
        put((dist - 1) & ((1 << low) - 1), low)
        produced += length
    put_length(implode._END_LENGTH)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_explode_known_answer_vector(spark):
    kat = bytes([0x00, 0x04, 0x82, 0x24, 0x25, 0x8F, 0x80, 0x7F])
    assert _jvm_explode(spark, kat) == ("ok", b"AIAIAIAIAIAIA")


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=3000), st.sampled_from([4, 5, 6]))
def test_explode_literal_streams_match_python(spark, blob, dict_bits):
    stream = implode.compress_literal(blob, dict_bits)
    assert _jvm_explode(spark, stream) == ("ok", blob)


def test_explode_token_streams_match_python(spark):
    rng = random.Random(20250101)
    for case in range(60):
        stream = _token_stream(rng, case % 2 == 1, 4 + case % 3, rng.randrange(1, 400))
        want = _py_explode(stream)
        assert want[0] == "ok"
        assert _jvm_explode(spark, stream) == want, case
        # every truncation point fails the same way on both sides
        cut = stream[: rng.randrange(0, len(stream))]
        assert _jvm_explode(spark, cut) == _py_explode(cut), (case, len(cut))


def test_explode_corrupt_inputs_match_python(spark):
    lens = implode._canonical_codes(implode._LENCODE)
    dists = implode._canonical_codes(implode._DISTCODE)
    # a match before any literal: distance 1 beyond an empty output
    bits = [1] + [((lens[0][0] >> i) & 1) ^ 1 for i in range(lens[0][1] - 1, -1, -1)]
    bits += [((dists[0][0] >> i) & 1) ^ 1 for i in range(dists[0][1] - 1, -1, -1)]
    bits += [0] * 4 + [1] * 16
    early_match = bytes([0, 4]) + bytes(
        sum(b << k for k, b in enumerate(bits[i : i + 8])) for i in range(0, len(bits), 8)
    )
    cases = [
        b"\x02\x04\x00",  # bad literal flag
        b"\x00\x07\x00",  # bad dictionary size
        b"\x00\x04",  # truncated stream
        b"",
        b"\x00",
        early_match,
    ]
    for data in cases:
        want = _py_explode(data)
        assert want[0] == "CorruptError", data
        assert _jvm_explode(spark, data) == want, data


def _jvm_split(spark, data: bytes, limit=None, project=None) -> tuple[list, list]:
    df = spark.createDataFrame(
        [("T.dbc", bytearray(dbc.dbf_to_dbc(data)))],
        "member_basename string, content binary",
    )
    got = dbc.read_dbc(
        df, columns=dbc.parse_dbf_header(data), limit=limit, project=project
    )
    names = got.columns[:-1]
    return names, [tuple(r)[:-1] for r in got.collect()]


def _py_split(data: bytes, limit=None, project=None) -> tuple[list, list]:
    names, cols = dbc.parse_dbf_columns(data, limit=limit, project=project)
    return names, list(zip(*cols))


def test_dbf_split_matches_parse_dbf_columns(spark):
    padded = dbc.write_dbf(
        ["A", "B"],
        [["\xa0x\x85", "\x1cy\x1f"], ["\tz\x0b", "ü\xa0é"], ["  ", "q"]],
        field_len=6,
    )
    deleted = bytearray(dbc.write_dbf(["A"], [[str(i)] for i in range(6)], 4))
    hl = struct.unpack("<H", deleted[8:10])[0]
    for row in (0, 3):
        deleted[hl + row * 5] = 0x2A
    dup = dbc.write_dbf(["A", "B", "A"], [["1", "2", "3"], ["4", "5", "6"]], 3)
    wide_cols = [f"C{i:03d}" for i in range(130)]
    wide = dbc.write_dbf(wide_cols, [[str(i + r) for i in range(130)] for r in range(3)], 4)
    whole = dbc.write_dbf(["A", "B"], [[str(i), str(-i)] for i in range(10)], 5)
    cases = [
        (padded, {}),
        (bytes(deleted), {}),
        (bytes(deleted), {"limit": 2}),
        (dup, {}),
        (dup, {"project": ["A"]}),
        (wide, {"project": ["C129", "C000"]}),
        (wide, {"limit": 1}),
        (whole, {"limit": 0}),
        (whole[: len(whole) - 24], {}),  # truncated body: whole records only
        (whole, {"project": ["B"], "limit": 4}),
    ]
    for data, kw in cases:
        assert _jvm_split(spark, data, **kw) == _py_split(data, **kw), kw


def _zipfile_reference(blob: bytes, suffix: str) -> list:
    out = []
    try:
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            for info in zf.infolist():
                if info.is_dir() or not info.filename.lower().endswith(suffix):
                    continue
                out.append((info.filename, zf.read(info), None))
    except Exception as exc:  # noqa: BLE001 — the class name is the contract
        out.append((None, None, type(exc).__name__))
    return out


def _jvm_members(spark, blob: bytes, suffix: str) -> list:
    df = spark.createDataFrame([("mem://a.zip", bytearray(blob))], "path string, content binary")
    rows = arc.extract_archive_members(df, suffix=suffix, permissive=True).collect()
    return [
        (
            r["member"],
            None if r["content"] is None else bytes(r["content"]),
            None if r["_error"] is None else r["_error"].split(":", 1)[0],
        )
        for r in rows
    ]


def _patch_central_entry(blob: bytes, name: str, offset: int, value: int) -> bytes:
    """Overwrite a u32 field of ``name``'s central-directory header."""
    out = bytearray(blob)
    pos = out.find(b"PK\x01\x02")
    while pos >= 0:
        n = struct.unpack_from("<H", out, pos + 28)[0]
        if out[pos + 46 : pos + 46 + n] == name.encode():
            struct.pack_into("<I", out, pos + offset, value)
            return bytes(out)
        pos = out.find(b"PK\x01\x02", pos + 4)
    raise AssertionError(name)


def test_zip_members_match_zipfile(spark):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("d/", b"")
        zf.writestr("d/notes.txt", b"decoy")
        zf.writestr(zipfile.ZipInfo("STORED.dbc"), b"s" * 300)
        zf.writestr("DEFL.DBC", bytes(range(256)) * 40, compress_type=zipfile.ZIP_DEFLATED)
        zf.writestr("sub/X.DBC", b"nested", compress_type=zipfile.ZIP_DEFLATED)
        zf.writestr("empty.dbc", b"")
    blob = buf.getvalue()
    want = _zipfile_reference(blob, ".dbc")
    assert [m for m, _, _ in want] == ["STORED.dbc", "DEFL.DBC", "sub/X.DBC", "empty.dbc"]
    assert _jvm_members(spark, blob, ".dbc") == want
    assert _jvm_members(spark, b"PK\x03\x04 not a zip", ".dbc") == [(None, None, "BadZipFile")]


def test_zip_undersized_declaration_and_crc_mismatch_are_bad_zips(spark):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("GOOD.dbc", b"g" * 50)
        zf.writestr("BOMB.dbc", bytes(1 << 20))
    blob = buf.getvalue()
    # BOMB declares 10 bytes and inflates to 1 MiB; GOOD keeps its data but
    # its directory CRC no longer matches it.
    bomb = _patch_central_entry(blob, "BOMB.dbc", 24, 10)
    bad_crc = _patch_central_entry(blob, "GOOD.dbc", 16, 0xDEADBEEF)
    for case in (bomb, bad_crc):
        want = _zipfile_reference(case, ".dbc")
        assert want[-1] == (None, None, "BadZipFile")
        assert _jvm_members(spark, case, ".dbc") == want
    df = spark.createDataFrame([("mem://b.zip", bytearray(bomb))], "path string, content binary")
    (err,) = [
        r["_error"]
        for r in arc.extract_archive_members(df, permissive=True).collect()
        if r["_error"]
    ]
    assert "inflates past its declared 10 bytes" in err  # read 11 bytes, not 1 MiB


def test_archive_to_records_plan_runs_no_python(spark, tmp_path):
    sys.path.insert(0, ROOT)
    from plan_audit import executed_scan_counts

    blob = dbc.dbf_to_dbc(dbc.write_dbf(["A", "B"], [["1", "x"], ["2", "y"]]))
    with zipfile.ZipFile(tmp_path / "m.zip", "w") as zf:
        zf.writestr("PAPE2501.dbc", blob)
    members = arc.extract_archive_members(
        arc.read_binary_files(spark, str(tmp_path), glob="*.zip")
    )
    df = dbc.read_dbc(members)
    assert [tuple(r) for r in df.collect()] == [("1", "x", "PAPE2501"), ("2", "y", "PAPE2501")]
    assert executed_scan_counts(df)["python_eval"] == 0


_LIFECYCLE = textwrap.dedent(
    """
    import os
    from pyspark.sql import SparkSession
    from etl_lala_spark.sources import _jvm, dbc

    def build():
        return (SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false").getOrCreate())

    def decode(spark):
        blob = dbc.dbf_to_dbc(dbc.write_dbf(["A"], [["x"], ["y"]]))
        df = spark.createDataFrame(
            [("F.dbc", bytearray(blob))], "member_basename string, content binary")
        return [r["A"] for r in dbc.read_dbc(df).collect()]

    spark = build()
    assert decode(spark) == ["x", "y"]
    jar = _jvm.codec_jar(spark)
    assert jar.startswith(os.environ["TMPDIR"]), jar
    first = os.stat(jar)
    assert decode(spark.newSession()) == ["x", "y"]
    for _ in range(2):
        spark.stop()
        spark = build()
        assert decode(spark) == ["x", "y"]
    again = os.stat(jar)
    assert (first.st_ino, first.st_mtime_ns) == (again.st_ino, again.st_mtime_ns)
    spark.stop()
    print("lifecycle ok")
    """
)


def _git_status() -> str | None:
    try:
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
            text=True, check=True, timeout=60,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None


def test_codec_session_lifecycle(tmp_path):
    """On plain builder sessions: the first decode compiles the jar into the
    temp directory, a newSession() clone and two stop/restart cycles reuse
    it without recompiling, and the checkout is left as it was."""
    before = _git_status()
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", _LIFECYCLE], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "lifecycle ok" in proc.stdout
    (jar,) = os.listdir(tmp_path / f"etl_lala_spark_jvm-{os.getuid()}")  # no class dir left
    assert jar.endswith(".jar")
    if before is not None:
        assert _git_status() == before
