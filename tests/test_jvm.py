"""The committed jar of the JVM SQL functions (sqawk_spark/jvm) is what
its Java source compiles to: ``javac --release 17`` against
``$SPARK_HOME/jars``, packed with fixed entry times."""

from __future__ import annotations

import shutil

import pytest

from sqawk_spark import jvm


def test_committed_jar_is_rebuilt_byte_for_byte(tmp_path):
    if shutil.which("javac") is None:
        pytest.skip("no javac on PATH")
    rebuilt = tmp_path / "pysqawk.jar"
    jvm.build_jar(str(rebuilt))
    with open(jvm.JAR, "rb") as f:
        committed = f.read()
    assert rebuilt.read_bytes() == committed, (
        "sqawk_spark/jvm/pysqawk.jar is stale: run python -m sqawk_spark.jvm"
    )
