"""SQL functions that run in the JVM, compiled from the Java source
beside this module.

``pysqawk.jar`` holds ``src/pysqawk/RealRepr.java``, the SQL function
``py_real_repr``: CPython's ``repr`` of a double, the text sqlite3 and
sqawk print for a REAL value. The load path's affinity text and the
rewriter's REAL renderings call it, so :func:`register` runs wherever
those are evaluated. It runs in the executor JVM, so no Python worker
starts for it.

The jar is committed; ``python -m sqawk_spark.jvm`` rebuilds it from the
source with ``javac --release 17`` against ``$SPARK_HOME/jars``, and
``tests/test_jvm.py`` checks that the rebuild matches it byte for byte.
"""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile
import zipfile

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.sql.types import StringType

from sqawk_spark.operators.session_cache import SessionCache

HERE = os.path.dirname(os.path.abspath(__file__))
JAR = os.path.join(HERE, "pysqawk.jar")
SOURCES = os.path.join(HERE, "src")
# fixed entry times and modes, so the same classes give the same bytes
_ENTRY_TIME = (1980, 1, 1, 0, 0, 0)
# the functions live in the session's function registry
_REGISTERED = SessionCache()


def register(spark: SparkSession) -> None:
    """Make the functions callable in ``spark``'s session, once per
    session. The load path, ``affinity.apply_affinity`` and
    ``functions.register_udfs`` call this, so a session pays for it
    only when it can run one of the functions."""
    _REGISTERED.get_or_build(spark, ("functions",), lambda: _add(spark))


def _add(spark: SparkSession) -> None:
    # what ADD JAR does: the jar joins the session's class loader and
    # ships to the executors. The SQL statement itself would first build
    # the SQL parser (≈0.3 s in a fresh session), and
    # spark.driver.extraClassPath would serve the driver only and rule
    # out the start-up class cache (session.py)
    spark._jsparkSession.sessionState().resourceLoader().addJar(JAR)
    spark.udf.registerJavaFunction("py_real_repr", "pysqawk.RealRepr", StringType())


def build_jar(out: str = JAR) -> None:
    """Compile the Java sources and write them to ``out`` as a jar."""
    sources = sorted(glob.glob(os.path.join(SOURCES, "**", "*.java"), recursive=True))
    classpath = os.path.join(_find_spark_home(), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, *sources],
            check=True,
        )
        names = sorted(
            os.path.relpath(os.path.join(d, f), classes).replace(os.sep, "/")
            for d, _, files in os.walk(classes)
            for f in files
        )
        with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as jar:
            for name in names:
                entry = zipfile.ZipInfo(name, _ENTRY_TIME)
                entry.external_attr = 0o644 << 16
                with open(os.path.join(classes, name), "rb") as f:
                    jar.writestr(entry, f.read())
