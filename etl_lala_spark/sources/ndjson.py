"""Tagged-union NDJSON reader (reference T2/P7).

The reference's converter streams NDJSON where the first line is a metadata
object and subsequent lines are records, routed on ``tipo``
(NDJSON_IMPLEMENTADO.md:140-158, consumed line-by-line :93-124). Spark-first:
read lines as text (batch or readStream — same code), parse the union with
``from_json`` on a merged schema, and split into two DataFrames by the tag.
Constant-memory by construction (T1): no line is ever held beyond its batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def tagged_schema(record_fields: list[str]) -> T.StructType:
    """Union schema: metadata envelope fields + a map for record payloads
    (records are flat string→string objects in the reference data model)."""
    return T.StructType(
        [
            T.StructField("tipo", T.StringType()),
            T.StructField("arquivo", T.StringType()),
            T.StructField("total_colunas", T.IntegerType()),
            T.StructField("colunas", T.ArrayType(T.StringType())),
            T.StructField("dados", T.MapType(T.StringType(), T.StringType())),
        ]
    )


def read_tagged_ndjson(
    spark: SparkSession,
    path: str,
    record_fields: list[str],
    streaming: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Read a tagged NDJSON source → (metadata_df, records_df).

    Records are projected from the ``dados`` map into one string column per
    declared field; metadata rows keep the envelope columns. With
    ``streaming=True`` the same plan runs as a Structured Streaming source
    (readStream.text), giving the reference's incremental consumption with
    checkpointed recovery instead of hand-rolled line buffering.
    """
    reader = spark.readStream if streaming else spark.read
    lines = reader.text(path)
    parsed = lines.select(
        F.from_json(F.col("value"), tagged_schema(record_fields)).alias("j")
    ).select("j.*")

    metadata = parsed.filter(F.col("tipo") == "metadados").select(
        "tipo", "arquivo", "total_colunas", "colunas"
    )
    records = parsed.filter(F.col("tipo") == "registro").select(
        *[F.col("dados").getItem(f).alias(f) for f in record_fields]
    )
    return metadata, records


def tagged_ndjson_errors(
    spark: SparkSession, path: str, record_fields: list[str]
) -> DataFrame:
    """Structured error records for the tagged-NDJSON source (reference R5:
    error propagation with structured payloads,
    src/datasus/datasus.service.ts:366-387).

    PERMISSIVE semantics: a malformed line never fails the job — it surfaces
    here as (raw line, error kind) for a badRecordsPath-style sink, while
    `read_tagged_ndjson` keeps processing the well-formed lines. A line is
    bad if it fails to parse as JSON or carries an unknown `tipo` tag.
    """
    lines = spark.read.text(path)
    parsed = lines.select(
        "value", F.from_json(F.col("value"), tagged_schema(record_fields)).alias("j")
    )
    # PERMISSIVE from_json yields an all-null struct for unparseable input,
    # so "malformed" is detected via the mandatory tag being null.
    bad = F.col("j").isNull() | F.col("j.tipo").isNull()
    return parsed.filter(
        (F.length(F.trim("value")) > 0)
        & (bad | ~F.col("j.tipo").isin("metadados", "registro"))
    ).select(
        F.col("value").alias("raw_line"),
        F.when(bad, F.lit("malformed_json")).otherwise(F.lit("unknown_tipo")).alias("error"),
    )
