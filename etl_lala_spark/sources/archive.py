"""Archive + binary ingestion (reference S5-S7, P2).

The reference downloads ZIPs into memory (500 MB cap), extracts `.dbc`
members with adm-zip, and spills them to /tmp to bound memory
(src/datasus/datasus.service.ts:251-275,390-454). Spark-first version:
``binaryFile`` scans the archives as a DataFrame (one row per file, content
lazily read per task), and extraction is a JVM UDF plus ``inline`` that
emits one row per archive member — the engine's memory manager does the
bounding, and a 100 TB archive collection parallelizes per file with no
driver involvement and no Python worker.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.sources._jvm import codec


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """binaryFile scan: (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def extract_archive_members(
    archives: DataFrame,
    suffix: str | None = ".dbc",
    max_member_bytes: int | None = None,
    permissive: bool = False,
) -> DataFrame:
    """Expand ZIP archives into one row per member (reference S6
    ``extrairDbcDoZip``), keeping only entries with the given suffix (P2
    lowercase endswith, src/datasus/datasus.service.ts:398-401).

    One-to-many expansion in the JVM codec (:mod:`etl_lala_spark.sources._jvm`):
    one UDF call per archive reads the ZIP's central directory and returns
    its member rows, which ``inline`` explodes — the Spark-native
    replacement for extract-to-/tmp + path-passing queues (S7:
    spill/bounding is the memory manager's job now). Members are read with
    a CRC-32 check, as Python's ``zipfile`` reads them.

    ``max_member_bytes`` bounds the DECLARED expanded size of each member
    before any byte is inflated — the extraction-side analog of the
    reference's 500 MB download cap, and the zip-bomb guard a 100 TB
    backfill needs (a 1 MB archive can declare a 100 GB member; the check
    reads only the directory entry, and no member is inflated past its
    declared size). ``permissive=True`` adds an ``_error`` string column
    and turns undecodable archives (``BadZipFile: …``) and over-cap members
    (``ValueError: …``) into structured error rows instead of task failures
    (R5 — the convention the DBC and NDJSON sources already follow), so one
    truncated download cannot kill the whole expansion; good rows carry
    NULL there, and members read before an archive fails are kept."""
    spark = archives.sparkSession
    return DataFrame(
        codec(spark).members(
            archives._jdf,
            suffix.lower() if suffix else None,
            sys.maxsize if max_member_bytes is None else max_member_bytes,
            permissive,
        ),
        spark,
    )


def strip_extension(df: DataFrame, col: str = "member_basename") -> DataFrame:
    """P5: derived column with the extension removed (reference
    ``nomeArquivo.replace(/\\.[^/.]+$/, '')``, src/datasus/datasus.service.ts:323)."""
    return df.withColumn("nome_sem_ext", F.regexp_replace(F.col(col), r"\.[^/.]+$", ""))
