"""The package's JVM codec (``jvm/DbcCodec.java``): Spark Java UDFs and the
builders that put them in plans.

The Java source ships with the package and is compiled by the Janino
compiler that Spark bundles, so no JDK compiler is needed. The classes are
zipped into a jar named by the source's SHA-256, in a private per-user
directory under the system temp directory: the first codec call of a
process compiles only when no jar for the current source exists there.
Each SparkContext loads the jar once with ``ADD JAR`` and keeps one codec
instance; nothing happens at session start.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import tempfile
import weakref
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

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


# One codec instance per SparkContext: a stopped context's entry goes with it.
_CODECS: weakref.WeakKeyDictionary[SparkContext, object] = weakref.WeakKeyDictionary()


def codec(spark: SparkSession):
    """The SparkContext's ``DbcCodec`` instance (a py4j object), whose
    methods build a codec plan in one call. The first call on a context
    adds the jar to it, unless already there, and loads the class from the
    session's jar class loader, which ``newSession()`` clones share."""
    sc = spark.sparkContext
    instance = _CODECS.get(sc)
    if instance is None:
        jar = codec_jar(spark)
        jss = spark._jsparkSession
        if "/" + os.path.basename(jar) not in jss.sparkContext().listJars().mkString(" "):
            spark.sql(f"ADD JAR '{jar}'")
        loader = jss.sharedState().jarClassLoader()
        klass = spark._jvm.java.lang.Class.forName(CLASS, True, loader)
        instance = _CODECS[sc] = klass.getDeclaredConstructor(None).newInstance(None)
    return instance


