"""Rebuild ``sqawk_spark/jvm/pysqawk.jar``: ``python -m sqawk_spark.jvm``."""

from sqawk_spark.jvm import JAR, build_jar

build_jar()
print(JAR)
