"""SparkSession factory with scale-aware defaults.

The reference bounds memory with hand-rolled physical strategies (sequential
job scheduling, spill-to-disk, forced GC — SURVEY.md §4); here those concerns
are delegated to Spark's unified memory manager and AQE. The settings below
are the ones that matter at 100 TB: AQE (runtime re-plan, skew-join handling,
partition coalescing), Arrow for the Python boundary, and a UTC session
timezone so results are stable across engines (the DuckDB oracle is UTC-naive).

Python workers are forked by the engine's own daemon (``_pydaemon``, selected
with ``spark.python.daemon.module``): the stock pyspark daemon, except that a
task's ``importlib.invalidate_caches()`` no longer re-reads ``pyspark.zip``
on CPython < 3.12, which cut the executor run time of a one-row Python task
from a median 0.24 s to 0.065 s on a 4-core host (SCALE.md, Python-boundary
policy). The package's parent directory goes on the workers' ``PYTHONPATH``,
so the daemon and the engine functions that UDFs call resolve from any cwd.

Spark's generated-code cache holds 1024 classes, not the 100 of
``spark.sql.codegen.cache.maxEntries``'s default. At 100 entries the
heaviest gates evict their own classes before reusing them, so every run
compiled ~180 (``web_corpus_wet_build``) to ~275 (``web_corpus_build``,
``web_recrawl_incremental``) classes again: 1.3-1.6 s of Janino time per
warm WET gate run (SCALE.md, generated-code cache). The conf is static: it
is read once per JVM, when the cache is first built, so it goes on the
builder, not into ``SESSION_CONFS``, where ``apply_session_confs`` could not
set it on a live session. A session built outside ``get_spark`` (the
correctness driver's, handed to ``__spark_entry__.entry``) keeps Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Directory that holds the etl_lala_spark package, for the workers' PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Session-level SQL confs that every entry point must ensure, whether the
# session was built by us or handed in by an external driver.
SESSION_CONFS: dict[str, str] = {
    # Driver-generated events.parquet stores TIMESTAMP(NANOS); Spark has no
    # nanosecond timestamp type, so read as long and convert (io.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing of small shuffle partitions and skew-join
    # splitting — essential on real clusters where stats are wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / applyInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Partition values stay strings (the record model is string-typed —
    # competência "202501" must not come back as an int).
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


def apply_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The correctness driver builds its own SparkSession; all confs in
    SESSION_CONFS are runtime-settable SQL confs, so this is safe to call on
    any session before reading tables.
    """
    for k, v in SESSION_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment — keep going; readers that
            # depend on a conf re-check and degrade explicitly.
            pass
    return spark


def get_spark(
    app_name: str = "etl_lala_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local mode is a single JVM, so ``spark.driver.memory`` is the only memory
    knob; on a real cluster the same code runs with executor sizing instead.
    ``shuffle_partitions`` defaults to the local core count — the 200 default
    over-parallelizes small data and under-parallelizes 100 TB; production
    deployments should size it to ~2-3× total cores with AQE coalescing the
    rest.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Static, so set here (module docstring); 1024 holds the five
        # heaviest gates' ~600 generated classes together.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "etl_lala_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in SESSION_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may have returned a pre-existing session with different
    # runtime confs — re-apply the settable ones.
    return apply_session_confs(spark)
