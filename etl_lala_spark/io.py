"""Table loading over the driver-generated parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under
``{sf_dir}/{name}.parquet``.

Equivalent of the reference's source layer: where the reference discovers
remote files then decodes them into string-typed record tables
(src/datasus/datasus.service.ts:98-137,307-388), this engine reads columnar
parquet with Catalyst pushdown. At 100 TB the same call reads a partitioned
directory tree; nothing here assumes single files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_lala_spark.session import apply_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table; ``events`` gets its ns→µs ts conversion."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read events.parquet, converting TIMESTAMP(NANOS) to TimestampType.

    Spark has no nanosecond timestamp: with
    ``spark.sql.legacy.parquet.nanosAsLong`` the raw int64 nanos surface as
    LongType, which we floor-divide to microseconds — the same truncation
    DuckDB applies, so oracle comparisons agree exactly.
    """
    apply_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, "events"))
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        # Integer division — double division loses precision at ~1.7e18 ns.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Parquet NANOS may also surface as TIMESTAMP_NTZ (reader-version
        # dependent). Session tz is pinned to UTC (session.py), so casting to
        # TimestampType keeps the same wall-clock instant the DuckDB oracle
        # sees, and restores castability to numeric epoch seconds (Spark 4
        # forbids TIMESTAMP_NTZ → BIGINT directly).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread(df: DataFrame, multiplier: int = 1, by: str | None = None) -> DataFrame:
    """Ensure at least cluster-default parallelism before a CPU-bound stage.

    Single-row-group parquet files scan as one real task no matter the split
    config, serializing per-row kernels (shingling, hashing, decode). This
    repartitions only when the scan under-splits — on a production layout
    (many files / row groups ≥ cores) it is a no-op, so the shuffle cost
    exists only in exactly the situations where it buys full parallelism.

    Pass ``by`` (a reasonably high-cardinality column) whenever one exists:
    hash partitioning skips the sort-before-repartition that round-robin
    performs for retry determinism (spark.sql.execution.sortBeforeRepartition)
    — measured ~3× cheaper on a single-row-group scan — and stays
    deterministic under stage retries, which round-robin only achieves via
    that sort. Round-robin remains the fallback when no key is available.

    Probing the input's partition count runs no job unless its plan is
    adaptive (it holds an exchange): AQE answers by running the shuffle
    stages, then may coalesce them below what the plan says. So an adaptive
    input is repartitioned unprobed, unless its root is a repartition to a
    fixed count, which AQE leaves as planned.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        n = df.rdd.getNumPartitions()
    else:
        root = plan.inputPlan()
        fixed = (
            root.nodeName() == "Exchange"
            and root.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        )
        n = root.outputPartitioning().numPartitions() if fixed else 0
    if n < target:
        if by is not None:
            return df.repartition(target, F.col(by))
        return df.repartition(target)
    return df


def map_rows(df: DataFrame, fn, schema: str) -> DataFrame:
    """Run ``fn`` on each row of ``df`` inside Arrow batches, with the
    row's columns as positional arguments; ``fn`` returns that row's output
    tuples (zero, one or many), laid out by the DDL ``schema``.

    This is the engine's one per-row Python loop: one ``mapInPandas`` node
    per call, the pandas frame built once per batch from the schema's
    column names. Values reach ``fn`` as Python objects (``bytes`` for
    binary, ``int`` for integral columns); a NULL in an integral column
    arrives as ``nan``, so filter NULL keys out before the map.
    """
    import pandas as pd
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(schema)
    names = struct.names

    def batches(it):
        for batch in it:
            cols = [batch[c].tolist() for c in batch.columns]
            rows = [out for args in zip(*cols) for out in fn(*args)]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, struct)


def tiny_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Build a metadata-sized DataFrame as a VALUES-backed LocalRelation.

    ``spark.createDataFrame`` parallelizes even a 3-row dimension into an
    RDD-backed plan that Catalyst cannot constant-fold, and a CartesianProduct
    of two such frames executes partition-product tasks (measured ~13 s for a
    3×3 cross join on local[32]; the VALUES form is ~0.2 s). A LocalRelation
    also participates in broadcast planning and constant folding on a real
    cluster, so control-plane dimensions (file types, UFs, month anchors)
    should always take this path. ``schema`` is a DDL string of non-nested
    ``name type`` pairs; values may be str, int, float, bool, or None.
    """
    fields = [f.strip().split(None, 1) for f in schema.split(",")]

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    values = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    cols = ", ".join(f"CAST({name} AS {typ}) AS {name}" for name, typ in fields)
    names = ", ".join(name for name, _ in fields)
    return spark.sql(f"SELECT {cols} FROM (VALUES {values}) AS t({names})")


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> list[str]:
    """Expose the star schema as temp views so users can work in raw SQL —
    the engine's interactive entry point (SURVEY.md §3.2: the reference's
    HTTP surface is vestigial; ours is the PySpark API + ``spark.sql``).

    After ``register_views(spark, sf_dir)``, any ANSI query the DuckDB
    oracle runs is valid against ``spark.sql`` too (same table names).
    Views are lazy — registering costs nothing until a query scans one.
    Returns the registered names."""
    wanted = list(names or TABLES)
    for n in wanted:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return wanted
