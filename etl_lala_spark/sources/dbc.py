"""DBC/DBF decode path (reference S8).

The reference ships each `.dbc` (PKWare-compressed DBF) to an external Python
service that runs dbc2dbf + dbfread and streams records back
(OTIMIZACAO_API_PYTHON.md:190-207,270-287). Here the decode runs *inside* the
engine, in the JVM: :func:`read_dbc`, the engine's one DBC reader, is a Java
UDF per ``binaryFile`` row (``jvm/DbcCodec.java``: PKWare DCL explode +
dBase III record split, compiled at first use by Spark's bundled Janino, see
:mod:`etl_lala_spark.sources._jvm`) plus ``inline`` — no Python worker
between the scan and the sink, and no third-party dependency.

The Python codec in this module and :mod:`etl_lala_spark.sources.implode`
stays as the fixture writer (:func:`write_dbf`, :func:`dbf_to_dbc`) and the
reference the JVM codec is tested against (tests/test_jvm_codec.py).

Record data model matches the reference: every value stringified, latin1
decoding, column names discovered from the file header (SURVEY.md §1.2).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame

from etl_lala_spark.sources import implode
from etl_lala_spark.sources._jvm import codec

_NO_LIMIT = 2**31 - 1


def parse_dbf_header(data: bytes) -> list[str]:
    """Column names from a dBase III header (32-byte field descriptors,
    11-byte null-padded names, until the 0x0D terminator)."""
    names = []
    off = 32
    while off < len(data) and data[off] != 0x0D:
        raw = data[off : off + 11]
        names.append(raw.split(b"\x00", 1)[0].decode("latin1").strip())
        off += 32
    return names


def parse_dbf_columns(
    data: bytes,
    limit: int | None = None,
    project: list[str] | None = None,
) -> tuple[list[str], list[list[str]]]:
    """Decode DBF bytes → (column names, one value list per column), every
    value stringified.

    Mirrors the reference converter's semantics: ``str(value)`` for every
    field (DIAGNOSTICO_TAMANHO_JSON.md:246-252), latin1 encoding
    (OTIMIZACAO_API_PYTHON.md:202), deleted rows (0x2A flag) skipped, and
    optional record-limit pushdown (S9, OTIMIZACAO_API_PYTHON.md:62-76).
    ``project`` decodes only the named fields; returned columns keep file
    order. This is the reference the JVM codec's split is tested against.

    Deleted-row filtering and row gathering run in numpy (one reshape +
    boolean mask over the record matrix); each column then decodes its
    gathered bytes in ONE latin1 call and strips per-value on slices of
    that single string — no per-cell bytes objects.
    """
    import numpy as np

    n_records = struct.unpack("<I", data[4:8])[0]
    header_len = struct.unpack("<H", data[8:10])[0]
    record_len = struct.unpack("<H", data[10:12])[0]

    fields: list[tuple[str, int]] = []
    off = 32
    while off < len(data) and data[off] != 0x0D:
        raw = data[off : off + 11]
        name = raw.split(b"\x00", 1)[0].decode("latin1").strip()
        length = data[off + 16]
        fields.append((name, length))
        off += 32

    # (name, record offset, length) for each decoded field; header order.
    sel: list[tuple[str, int, int]] = []
    fo = 1
    for name, flen in fields:
        if project is None or name in project:
            sel.append((name, fo, flen))
        fo += flen

    body = data[header_len : header_len + n_records * record_len]
    n_avail = len(body) // record_len
    arr = np.frombuffer(body[: n_avail * record_len], dtype=np.uint8).reshape(
        n_avail, record_len
    )
    keep = np.nonzero(arr[:, 0] != 0x2A)[0]  # drop deleted rows
    if limit is not None:
        keep = keep[:limit]
    kept = arr[keep]
    n_kept = len(kept)

    cols: list[list[str]] = []
    for _name, o, length in sel:
        buf = kept[:, o : o + length].tobytes().decode("latin1")
        cols.append(
            [buf[i : i + length].strip() for i in range(0, n_kept * length, length)]
        )
    return [s[0] for s in sel], cols


def dbc_to_dbf(data: bytes) -> bytes:
    """Decompress a DATASUS .dbc into DBF bytes (in-engine dbc2dbf).

    Container layout (public, used by every DATASUS reader): the DBF header
    is stored verbatim up to its own declared length (bytes 8-9), followed by
    a 4-byte CRC32, followed by the record section compressed with PKWare
    DCL implode — decoded here by the pure-Python
    :mod:`etl_lala_spark.sources.implode` codec, replacing the reference's
    external converter service (OTIMIZACAO_API_PYTHON.md:190-207).
    :func:`read_dbc` runs the JVM port of this function.
    """
    if len(data) < 12:
        raise ValueError("not a .dbc: shorter than a DBF header prefix")
    header_len = struct.unpack("<H", data[8:10])[0]
    if header_len < 32 or header_len + 4 > len(data):
        raise ValueError(f"not a .dbc: implausible header length {header_len}")
    body = implode.decompress(data[header_len + 4 :])
    return data[:header_len] + body


def dbf_to_dbc(dbf: bytes) -> bytes:
    """Inverse of :func:`dbc_to_dbf` (fixture generator): verbatim header,
    zeroed CRC field, literal-mode-imploded record section."""
    header_len = struct.unpack("<H", dbf[8:10])[0]
    return dbf[:header_len] + b"\x00\x00\x00\x00" + implode.compress_literal(
        dbf[header_len:]
    )


def infer_dbf_columns(binaries: DataFrame, content_col: str = "content") -> list[str]:
    """Schema discovery from the first file's header (reference: per-file
    ``colunas`` reported by the converter, src/datasus/datasus.service.ts:30-33).
    One tiny driver action (header bytes only), then the decode runs fully
    distributed with the fixed all-string schema. The prefix is 64 KiB —
    the DBF header length field is u16, so this covers the maximal header
    (a 4 KiB prefix silently truncated any file past ~126 fields)."""
    head = codec(binaries.sparkSession).head(binaries._jdf, content_col)
    return [] if head is None else parse_dbf_header(head)


def read_dbc(
    binaries: DataFrame,
    content_col: str = "content",
    name_col: str = "member_basename",
    limit: int | None = None,
    columns: list[str] | None = None,
    project: list[str] | None = None,
    mode: str = "FAILFAST",
) -> DataFrame:
    """S8 end-to-end: decode ``.dbc`` binary rows (implode-compressed DBF)
    into the all-string record table, one column per DBF field (positional,
    so duplicate DBF names keep their own values) plus ``arquivo_origem``,
    the member name without its extension (reference record shape,
    ESTRUTURA_DADOS_PROCESSADOS.md:80-109). Schema discovery needs no
    decompression — the DBF header is stored verbatim at the front of a
    ``.dbc`` — and the per-file explode + record split runs distributed in
    the JVM codec (:mod:`etl_lala_spark.sources._jvm`), one UDF call per
    file and no Python worker. ``project`` prunes columns inside the
    decoder (decompression still touches every byte — implode output is
    sequential — but field slicing/decoding skips non-projected fields).

    ``mode="FAILFAST"`` (default) raises inside the task on a corrupt or
    schema-mismatched file — the reference's ``sucesso !== true`` guard.
    ``mode="PERMISSIVE"`` instead emits ONE error row per bad file (data
    columns NULL, ``_decode_error`` = exception class + message) and keeps
    decoding the rest — the Spark PERMISSIVE/badRecords convention the
    NDJSON source already follows (R5), so one truncated archive member
    cannot kill a 100 TB backfill. Pass explicit ``columns`` when the
    FIRST file may be corrupt (schema inference reads its header). The
    error classes are those of the Python reference codec
    (``CorruptError`` from :mod:`implode`, ``ValueError`` for the
    container and column checks)."""
    if mode not in ("FAILFAST", "PERMISSIVE"):
        raise ValueError(f"unknown mode {mode}")
    cols = columns if columns is not None else infer_dbf_columns(binaries, content_col)
    if project is not None:
        cols = [c for c in cols if c in project]
    # The codec builds the plan in one py4j call; the name lists travel as
    # JSON, one argument whatever their length.
    spark = binaries.sparkSession
    jdf = codec(spark).records(
        binaries._jdf,
        name_col,
        content_col,
        _NO_LIMIT if limit is None else limit,
        json.dumps(None if project is None else list(project)),
        json.dumps(cols),
        mode == "PERMISSIVE",
    )
    return DataFrame(jdf, spark)


def write_dbf(columns: list[str], rows: list[list[str]], field_len: int = 20) -> bytes:
    """Produce minimal dBase III bytes (test fixture generator — the inverse
    of parse_dbf_columns; character fields only, latin1)."""
    n, hlen = len(rows), 32 + 32 * len(columns) + 1
    rlen = 1 + field_len * len(columns)
    out = bytearray()
    out += bytes([0x03, 24, 1, 1])
    out += struct.pack("<IHH", n, hlen, rlen)
    out += bytes(20)
    for c in columns:
        desc = bytearray(32)
        desc[0:11] = c.encode("latin1")[:11].ljust(11, b"\x00")
        desc[11] = ord("C")
        desc[16] = field_len
        out += desc
    out += b"\x0d"
    for row in rows:
        out += b"\x20"
        for v in row:
            out += v.encode("latin1")[:field_len].ljust(field_len, b"\x20")
    out += b"\x1a"
    return bytes(out)
