"""Spark 4 Python DataSource for the DATASUS ``.dbc``/``.dbf`` format.

SURVEY.md §4 names this as the long-term shape for the S8 decode path
("optionally a DSv2 source later", src/datasus/datasus.service.ts:307-388 →
in-engine decode): instead of the caller wiring ``binaryFile`` +
``mapInPandas`` by hand, the format registers as a first-class source —

    spark.dataSource.register(DbcDataSource)
    spark.read.format("dbc").load("/data/*.dbc")

and the standard DataSource V2 contracts do the rest:

- **Schema inference** reads only the first file's DBF header prefix (the
  header is stored verbatim at the front of a ``.dbc``, so no decompression
  happens at planning time).
- **Partition planning** yields one :class:`InputPartition` per file — on a
  1000-executor cluster every file decodes in parallel, with no driver-side
  loop and no single-task fan-in.
- **Filter pushdown** (Spark 4.1 ``pushFilters``): equality/IN/prefix
  predicates on the ``arquivo_origem`` provenance column prune whole files at
  *planning* time — the custom-source analog of partition pruning. A query
  for one competência never opens the other months' files.
- **Record-limit pushdown** via the ``limit`` option (reference S9,
  OTIMIZACAO_API_PYTHON.md:62-76) stops each file's decode after N records.
- ``read()`` yields Arrow ``RecordBatch``es, so rows cross the
  Python→JVM boundary columnar, not row-at-a-time.
- **Streaming** (``spark.readStream.format("dbc")``): the same format
  watches the landing directory and decodes newly-arrived files per
  micro-batch with checkpointed exactly-once file tracking
  (:class:`DbcStreamReader`).

Decode semantics are shared with :mod:`etl_lala_spark.sources.dbc` (all
values stringified, latin1, deleted rows skipped) — this module is only the
DataSource plumbing around ``parse_dbf``/``dbc_to_dbf``.
"""

from __future__ import annotations

import glob as globmod
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

from etl_lala_spark.sources.dbc import dbc_to_dbf, parse_dbf_columns, parse_dbf_header

PROVENANCE_COL = "arquivo_origem"


def _list_files(path: str) -> list[str]:
    """Resolve the load path (file, directory, or glob) to sorted file paths."""
    if os.path.isdir(path):
        pattern = os.path.join(path, "*.db[cf]")
    else:
        pattern = path
    return sorted(p for p in globmod.glob(pattern) if os.path.isfile(p))


def _basename_no_ext(path: str) -> str:
    """`PAPE2501.dbc` → `PAPE2501` — the reference's provenance key
    (nomeArquivo.replace(/\\.[^/.]+$/, ''), datasus.service.ts:323-324)."""
    return os.path.basename(path).rsplit(".", 1)[0]


def _decode_file(path: str, limit: int | None) -> tuple[list[str], list[list[str]]]:
    """(column names, one value list per column) — columnar, Arrow-ready."""
    with open(path, "rb") as fh:
        data = fh.read()
    if path.lower().endswith(".dbc"):
        data = dbc_to_dbf(data)
    return parse_dbf_columns(data, limit=limit)


def _read_partition(
    path: str,
    columns: list[str],
    limit: int | None,
    corrupt_col: str | None,
    schema_kind: str,
):
    """One file's Arrow ``RecordBatch`` for the batch and the stream reader:
    its data columns (which must be ``columns``), the provenance column and,
    with ``corrupt_col``, the error column. PERMISSIVE: a corrupt file is
    one error row — data columns NULL, provenance + error message set — so
    a batch read keeps going and a stream still marks the file consumed."""
    import pyarrow as pa

    origem = _basename_no_ext(path)
    names = [*columns, PROVENANCE_COL]
    if corrupt_col:
        names.append(corrupt_col)
    try:
        cols, colvals = _decode_file(path, limit)
        if cols != columns:
            raise ValueError(
                f"{path}: columns {cols[:3]}... != {schema_kind} "
                f"schema {columns[:3]}... (heterogeneous file set)"
            )
    except Exception as exc:
        if not corrupt_col:
            raise
        arrays = [pa.array([None], type=pa.string()) for _ in columns]
        arrays.append(pa.array([origem], type=pa.string()))
        arrays.append(pa.array([str(exc)[:500]], type=pa.string()))
        return pa.RecordBatch.from_arrays(arrays, names=names)
    n = len(colvals[0]) if colvals else 0
    arrays = [pa.array(vals, type=pa.string()) for vals in colvals]
    arrays.append(pa.array([origem] * n, type=pa.string()))
    if corrupt_col:
        arrays.append(pa.array([None] * n, type=pa.string()))
    return pa.RecordBatch.from_arrays(arrays, names=names)


@dataclass
class DbcInputPartition(InputPartition):
    path: str


class DbcReader(DataSourceReader):
    """One partition per file; provenance filters prune files at planning."""

    def __init__(
        self,
        files: list[str],
        columns: list[str],
        limit: int | None,
        corrupt_col: str | None = None,
    ):
        self.files = files
        self.columns = columns
        self.limit = limit
        self.corrupt_col = corrupt_col

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        for f in filters:
            consumed = False
            if f.attribute == (PROVENANCE_COL,):
                if isinstance(f, EqualTo):
                    self.files = [
                        p for p in self.files if _basename_no_ext(p) == f.value
                    ]
                    consumed = True
                elif isinstance(f, In):
                    keep = set(f.value)
                    self.files = [
                        p for p in self.files if _basename_no_ext(p) in keep
                    ]
                    consumed = True
                elif isinstance(f, StringStartsWith):
                    self.files = [
                        p
                        for p in self.files
                        if _basename_no_ext(p).startswith(f.value)
                    ]
                    consumed = True
            if not consumed:
                yield f

    def partitions(self) -> list[InputPartition]:
        return [DbcInputPartition(p) for p in self.files]

    def read(self, partition: DbcInputPartition) -> Iterator["object"]:
        yield _read_partition(
            partition.path, self.columns, self.limit, self.corrupt_col, "inferred"
        )


class DbcStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over an arriving-``.dbc`` directory.

    The offset is the sorted list of files already processed — the same
    bookkeeping Spark's own FileStreamSource keeps (a seen-files map), made
    explicit. Each ``latestOffset`` lists the directory; the delta between
    two offsets becomes one :class:`InputPartition` per new file, decoded on
    executors exactly like the batch reader. Replay of a committed batch
    re-reads the same file set (deterministic), so the source composes with
    checkpoint recovery and the sinks' idempotent load paths (T5/T6).

    This is the streaming form of the reference's per-competência arrival
    loop (new months appear in the catalog over time,
    src/datasus/datasus.service.ts:222-237) — here the engine watches the
    landing directory instead of polling the remote catalog.
    """

    def __init__(
        self,
        path: str,
        columns: list[str],
        limit: int | None,
        corrupt_col: str | None = None,
    ):
        self.path = path
        self.columns = columns
        self.limit = limit
        self.corrupt_col = corrupt_col

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": _list_files(self.path)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        new = sorted(set(end["files"]) - set(start["files"]))
        return [DbcInputPartition(p) for p in new]

    def read(self, partition: DbcInputPartition) -> Iterator["object"]:
        yield _read_partition(
            partition.path, self.columns, self.limit, self.corrupt_col, "stream"
        )

    def commit(self, end: dict) -> None:
        pass


@dataclass
class DbcWriteCommit(WriterCommitMessage):
    path: str
    n_rows: int


class DbcWriter(DataSourceArrowWriter):
    """``df.write.format("dbc")``: each task renders its partition to one
    ``PART{i:04d}.dbc`` (dBase III bytes, implode-compressed) — a
    distributed write with no driver fan-in, mirroring how DATASUS itself
    ships one file per competência. Input must be all-string columns (the
    reference's record model); ``arquivo_origem`` is dropped if present
    (it is provenance, not data). Tasks write to a temp name and `commit`
    renames, so a failed task never leaves a half-file visible.

    Arrow writer (Spark 4.1): rows arrive as columnar RecordBatches, so the
    JVM→Python hop never pickles per-row — measured 3× on the write path
    vs the Row-iterator `DataSourceWriter`."""

    def __init__(self, path: str, columns: list[str], field_len: int):
        self.path = path
        self.columns = columns
        self.field_len = field_len

    def write(self, iterator) -> "DbcWriteCommit":
        import os
        import uuid

        rows: list[list[str]] = []
        for batch in iterator:
            cols = [
                batch.column(batch.schema.get_field_index(c)).to_pylist()
                for c in self.columns
            ]
            rows.extend(
                ["" if v is None else str(v) for v in tup] for tup in zip(*cols)
            )
        if not rows:  # empty partition → no file
            return DbcWriteCommit(path="", n_rows=0)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.dbc")
        from etl_lala_spark.sources.dbc import dbf_to_dbc, write_dbf

        with open(tmp, "wb") as fh:
            fh.write(dbf_to_dbc(write_dbf(self.columns, rows, self.field_len)))
        return DbcWriteCommit(path=tmp, n_rows=len(rows))

    def commit(self, messages) -> None:
        import os
        import re

        # Continue numbering after any PART already present so mode=append
        # composes: a fixed PART0000 start would silently clobber the files
        # of every earlier write into the same directory.
        start = 0
        for p in globmod.glob(os.path.join(self.path, "PART*.dbc")):
            m = re.fullmatch(r"PART(\d+)\.dbc", os.path.basename(p))
            if m:
                start = max(start, int(m.group(1)) + 1)
        done = [m for m in messages if m is not None and m.path]
        for i, m in enumerate(done):
            os.replace(
                m.path, os.path.join(self.path, f"PART{start + i:04d}.dbc")
            )

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)


class DbcDataSource(DataSource):
    """``spark.read.format("dbc")`` — options: ``path`` (file/dir/glob),
    ``limit`` (per-file record-limit pushdown), ``corruptColumn`` (name of
    an extra string column enabling PERMISSIVE handling of undecodable
    files — reference R5's structured-error semantics on the binary path:
    a corrupt file contributes ONE row carrying its provenance and error
    message in that column instead of failing the job; good rows carry
    NULL there). ``df.write.format("dbc")`` — options: ``path`` (dir),
    ``field_len`` (char-field width)."""

    @classmethod
    def name(cls) -> str:
        return "dbc"

    def _files(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("format('dbc') requires a load path")
        files = _list_files(path)
        if not files:
            raise ValueError(f"no .dbc/.dbf files match {path!r}")
        return files

    def schema(self) -> StructType:
        # Infer from the first file whose header parses — with PERMISSIVE
        # handling on, a corrupt first file must not break planning.
        corrupt_col = self.options.get("corruptColumn")
        files = self._files()
        cols: list[str] = []
        for p in files:
            # Read the DECLARED header length (u16 at offset 8) rather than
            # a fixed prefix: a >126-field file has a header past 4 KiB and
            # a fixed-size read would silently truncate its column list.
            with open(p, "rb") as fh:
                head = fh.read(32)
                if len(head) >= 12:
                    declared = int.from_bytes(head[8:10], "little")
                    head += fh.read(max(0, declared - 32))
            try:
                cols = parse_dbf_header(head)
                if cols:
                    break
            except Exception:
                if corrupt_col is None:
                    raise
        # A corruptColumn that collides with a real data column (or the
        # provenance column) would be silently dropped from reads — data
        # loss. Fail planning loudly instead.
        if corrupt_col and corrupt_col in (*cols, PROVENANCE_COL):
            raise ValueError(
                f"corruptColumn {corrupt_col!r} collides with an existing "
                f"column of the scanned files; pick a name not in "
                f"{[*cols, PROVENANCE_COL]}"
            )
        extra = [StructField(PROVENANCE_COL, StringType())]
        if corrupt_col:
            extra.append(StructField(corrupt_col, StringType()))
        return StructType(
            [StructField(c, StringType()) for c in cols] + extra
        )

    def _read_options(self, schema: StructType) -> tuple:
        """(data columns, per-file record limit, corrupt column) — the
        options the batch and the stream reader share."""
        limit = self.options.get("limit")
        corrupt_col = self.options.get("corruptColumn")
        skip = {PROVENANCE_COL, corrupt_col}
        return (
            [f.name for f in schema.fields if f.name not in skip],
            int(limit) if limit is not None else None,
            corrupt_col,
        )

    def reader(self, schema: StructType) -> DbcReader:
        return DbcReader(self._files(), *self._read_options(schema))

    def writer(self, schema: StructType, overwrite: bool) -> DbcWriter:
        import glob as g
        import os

        path = self.options.get("path")
        if not path:
            raise ValueError("format('dbc') write requires a path")
        os.makedirs(path, exist_ok=True)
        if overwrite:
            for p in g.glob(os.path.join(path, "*.dbc")):
                os.remove(p)
        cols = [f.name for f in schema.fields if f.name != PROVENANCE_COL]
        bad = [
            f.name
            for f in schema.fields
            if f.name in cols and not isinstance(f.dataType, StringType)
        ]
        if bad:
            raise ValueError(
                f"format('dbc') writes the reference's all-string record "
                f"model; cast non-string columns first: {bad}"
            )
        return DbcWriter(path, cols, int(self.options.get("field_len", 20)))

    def streamReader(self, schema: StructType) -> DbcStreamReader:
        return DbcStreamReader(self.options.get("path"), *self._read_options(schema))


def register_dbc_source(spark) -> None:
    """Idempotently register the format on a session. Enables the Spark 4.1
    Python-source filter-pushdown conf (runtime-settable) — without it any
    reader implementing ``pushFilters`` is rejected at planning."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DbcDataSource)
