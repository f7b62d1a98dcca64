"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configuration below is
chosen so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts adapt to real data sizes instead of being hand-tuned per SF.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is the *initial* number and AQE coalesces.
  The CLI sizes each run's initial count from its input bytes
  (``cli._size_partitions``): ⌈bytes ÷ the advisory partition size⌉,
  clamped to [1, ``shuffle.partitions``], set for the run as AQE's
  ``coalescePartitions.initialPartitionNum``, then restored. A small
  input plans one shuffle partition, so an ORDER BY's range exchange
  samples nothing. File scans keep Spark's own split sizing.
- Arrow enabled: every Pandas-UDF hop is Arrow-batched, never per-row.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "sqawk_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SQLite-style permissive coercion (Spark 4 defaults to ANSI):
        # 'c' < 10000 must be NULL-out, not an error
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SQAWK_SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
