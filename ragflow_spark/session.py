"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for the multi-executor cluster
(BASELINE.md: local[8] vs local[32] proxies N vs 4N executors); the
same conf block is what we'd pass to spark-submit on a real cluster.

Conf rationale (SURVEY.md §4.2, §7.3.4):
- AQE on: runtime partition coalescing + skew splitting; at 100 TB the
  static shuffle-partition count is always wrong somewhere.
- Arrow on + bounded batches: html payloads are multi-MB binaries;
  unbounded Arrow batches would hold GBs per task. Two caps apply to
  mapInPandas input, whichever binds first. 256 rows: a larger row
  cap buys nothing on small pages (local[4], 30k docs, min of 4:
  256 rows 3.19 s vs 4096 rows 3.26 s). 16 MiB: Spark 4.1 cuts a
  mapInPandas batch at maxBytesPerBatch too, so multi-MB pages
  arrive a few at a time whatever the row cap
  (tests/test_session.py).
- maxPartitionBytes 64 MiB: binary-heavy scans split finer so a
  1000-executor cluster has enough input splits to saturate.
- Python daemon ``ragflow_spark.pydaemon``: Spark puts the
  source-only ``pyspark.zip`` first on the workers' path, so each
  session's daemon compiled PySpark before forking a worker. Warming
  a fresh local[4] session's workers took 2.6-3.2 s with the stock
  daemon and takes 1.7-2.1 s with this one (4-core box). The module
  moves that zip behind an installed PySpark whose ``version.py`` is
  byte-equal to the zip's, and changes nothing when there is none
  (ragflow_spark/pydaemon.py). The daemon starts before any task
  ships the package, so the package zip also goes on the executors'
  ``PYTHONPATH``; without it the daemon imports only when the driver's
  cwd is the repo root. This covers the local master built here.
  Sessions built elsewhere (tests/driver_sim.py, the driver that calls
  ``__spark_entry__.entry(spark)``) keep the stock daemon; on a
  cluster, put the package zip on the executors' ``PYTHONPATH`` before
  setting ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ragflow_spark.deploy import package_zip

ARROW_MAX_RECORDS_PER_BATCH = 256
ARROW_MAX_BYTES_PER_BATCH = 16 << 20


def get_spark(
    app_name: str = "ragflow_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or len(os.sched_getaffinity(0))
    pkg_zip = package_zip()
    shuffle_partitions = shuffle_partitions or max(cores, 32)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # never interleave \r progress bars with the one-line JSON
        # contract output (bench.py) — r3's driver tail capture
        # truncated the JSON mid-object
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "ragflow_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", pkg_zip)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to python workers — the local-mode stand-in for
    # `spark-submit --py-files ragflow_spark.zip` (north_rule)
    spark.sparkContext.addPyFile(pkg_zip)
    return spark
