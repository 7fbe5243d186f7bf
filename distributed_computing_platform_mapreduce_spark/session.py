"""SparkSession factory with scale-oriented defaults.

The reference engine hard-codes its cluster topology (10 named VMs,
``/root/reference/src/MapReduceMaster.java:949-956``); here the session is
the only place that knows about execution resources. Everything else in
the package is declarative and cluster-size agnostic.

Config choices (all public Spark knobs), chosen for "would survive 100×":

- AQE on (+ skew-join + partition coalescing): runtime re-planning replaces
  the reference's static ``⌊n/m⌋`` task chunking
  (``/root/reference/src/MapReduceMaster.java:60-83``).
- Arrow enabled: the JVM↔Python boundary is Arrow-batched, replacing the
  reference's per-10-line subprocess fork
  (``/root/reference/src/MapReduceWorker.java:109-158``).
- shuffle.partitions sized by env (default 32 to match local[32] tests);
  on a real cluster this would be ~2-3× total cores, and AQE coalesces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEF_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
_DEF_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "distributed-computing-platform-mapreduce-spark",
              master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    share one code path; on a cluster the caller passes the real master or
    relies on spark-submit.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", _DEF_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long session-wide
        # (batch AND streaming scans) — catalog.load_table / streaming
        # convert to microsecond timestamps. Session-level so per-query
        # code never mutates shared conf.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # No console progress bars: they stream to stderr, and the bench
        # driver records the MERGED tail of the process output — r14's
        # record was 2000 chars of stage spinners with the JSON pushed
        # out of the window. Engine logs are the record's enemy here.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Tungsten page size. Spark derives it from heap / cores (64 MB
        # on 4 cores with the 8 GB heap), and every broadcast hash
        # relation on a non-long key takes one whole page, however few
        # rows it holds. Those pages stay live until the caller's
        # DataFrames are released and the ContextCleaner drops the
        # broadcast, so after a near-dup job the driver's heap after a
        # full GC read 89–630 MB depending on cleanup timing; with 1 MB
        # pages it reads 90–98 MB (4 cores). Rows wider than a page get
        # a page of their own, so wide records still fit.
        .config("spark.buffer.pageSize", "1m")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{_DEF_CPUS}]")
    return builder.getOrCreate()
