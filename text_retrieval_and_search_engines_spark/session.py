"""SparkSession factory with the engine's pinned configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc malloc arena contention in forked pyspark workers inflates CPU time
# ~16x at 32 workers (measured: tokenize 44 -> 700 CPU-s for identical work).
# Python workers are single-threaded, so one arena is strictly better. Must be
# set before the JVM (and thus the pyspark daemon) starts.
os.environ.setdefault("MALLOC_ARENA_MAX", "1")


def get_spark(app_name: str = "text-retrieval-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local session tuned for one host; on a real cluster, spark-submit
    conf wins (we only set semantic configs unconditionally).

    Semantic pins (results depend on them, so they never follow a default):

    * ``spark.sql.session.timeZone=UTC`` — timestamps render as the oracle
      twins expect.
    * ``spark.sql.execution.arrow.pyspark.enabled=true`` — pandas
      conversions go through Arrow, the path the UDF kernels are tested on.
    * ``spark.sql.ansi.enabled=true`` — ANSI semantics (Spark 4's default):
      ``size(null)`` is NULL rather than -1, and invalid casts and overflow
      raise instead of yielding NULL."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or max(8, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # semantic pins (listed in the docstring)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # docmap(docid,url) joins back to the corpus during the build; at
        # <=10^7 docs it MUST broadcast (a sort-merge join re-shuffles the
        # whole corpus text — measured as the tokenize phase's non-scaling
        # wall). At 10^12 docs AQE sees the real size and falls back to SMJ.
        .config("spark.sql.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
