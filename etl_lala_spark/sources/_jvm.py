"""Spark Java UDFs from the package's JVM codec (``jvm/DbcCodec.java``).

The Java source ships with the package and is compiled by the Janino
compiler that Spark bundles, so no JDK compiler is needed. The classes are
zipped into a jar named by the source's SHA-256, in a private per-user
directory under the system temp directory: the first decode call of a
process compiles only when no jar for the current source exists there.
Each SparkContext loads the jar once with ``ADD JAR``; nothing happens at
session start.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import tempfile
import zipfile

from pyspark.sql import Column, SparkSession
from pyspark.sql.classic.column import _to_java_column, _to_seq

SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "DbcCodec.java")
CLASS = "etl_lala_spark.sources.jvm.DbcCodec"


def codec_jar(spark: SparkSession) -> str:
    """Path of the compiled codec jar, compiling it when it is missing."""
    with open(SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    root = os.path.join(tempfile.gettempdir(), f"etl_lala_spark_jvm-{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    # The JVM runs whatever jar it finds here: only a private directory will do.
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o077:
        raise RuntimeError(f"{root} is not a private directory of this user")
    jar = os.path.join(root, f"dbccodec-{digest[:16]}.jar")
    if os.path.exists(jar):
        return jar
    classes = tempfile.mkdtemp(dir=root)
    try:
        jvm, gateway = spark._jvm, spark.sparkContext._gateway
        compiler = jvm.org.codehaus.janino.CompilerFactory().newCompiler()
        compiler.setDestinationDirectory(jvm.java.io.File(classes), False)
        sources = gateway.new_array(jvm.java.io.File, 1)
        sources[0] = jvm.java.io.File(SOURCE)
        compiler.compile(sources)
        tmp = f"{classes}.jar"
        with zipfile.ZipFile(tmp, "w") as zf:
            for folder, _dirs, names in os.walk(classes):
                for name in names:
                    path = os.path.join(folder, name)
                    zf.write(path, os.path.relpath(path, classes))
        os.replace(tmp, jar)  # atomic: a concurrent reader sees no partial jar
    finally:
        shutil.rmtree(classes, ignore_errors=True)
    return jar


def codec_class(spark: SparkSession, name: str = CLASS):
    """The codec class ``name``, loaded from the jar after adding the jar to
    the session's SparkContext if it is not there yet."""
    jar = codec_jar(spark)
    jss = spark._jsparkSession
    if "/" + os.path.basename(jar) not in jss.sparkContext().listJars().mkString(" "):
        spark.sql(f"ADD JAR '{jar}'")
    loader = jss.sharedState().jarClassLoader()
    return spark._jvm.java.lang.Class.forName(name, True, loader)


def codec_udf(spark: SparkSession, name: str, args: list, *cols: Column) -> Column:
    """Apply the codec's ``DbcCodec$<name>`` UDF, constructed from ``args``
    (Python lists become ``String[]``), to ``cols``."""
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    klass = codec_class(spark, f"{CLASS}${name}")
    jargs = gateway.new_array(jvm.java.lang.Object, len(args))
    for i, arg in enumerate(args):
        if isinstance(arg, list):
            strings = gateway.new_array(jvm.java.lang.String, len(arg))
            for j, s in enumerate(arg):
                strings[j] = s
            arg = strings
        jargs[i] = arg
    judf = klass.getConstructors()[0].newInstance(jargs).udf()
    return Column(judf.apply(_to_seq(spark.sparkContext, cols, _to_java_column)))
