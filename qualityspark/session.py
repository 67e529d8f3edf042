"""SparkSession builder with the pipeline's standard tuning.

Cluster notes (the sandbox runs local[32]; these settings are chosen for a
1000-executor / 100 TB deployment and merely harmless locally):

* AQE on: runtime coalescing of the post-dedup shuffle and skew-join
  splitting for the hot-domain partitions.
* Arrow on, 10k batch: the single pandas-UDF model pass (langid + perplexity
  + scrub) is Arrow-batched; batch size bounds executor-python memory.
* shuffle.partitions: local default 32; production sets ~2-3x total cores.
* maxPartitionBytes 128m: scan parallelism for wide binary (html) columns.
* driver memory: half the host's physical memory, 1g to 32g
  (``driver_memory``); ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(total_bytes: int) -> str:
    """Default ``spark.driver.memory`` for a host with ``total_bytes`` of
    physical memory: half of it in whole GiB, at least 1g and at most
    32g.  A fixed 32g let the driver JVM of a local run grow past a
    15 GB host's memory and get OOM-killed."""
    return f"{max(1, min(32, total_bytes // 2 // 2**30))}g"


def get_spark(app: str = "qualityspark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    cores = os.environ.get("SPARK_GRAFT_CPUS")
    if cores and master == "local[32]":  # env override of the local default
        master = f"local[{cores}]"
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # The audit projection carries 100+ intermediate signal columns;
         # the default codegen.maxFields=100 silently disables whole-stage
         # codegen for it, dropping the hot path into interpreted Volcano
         # eval (measured 1.9x slower at 4 cores, worse at 16 — interpreted
         # eval's allocation traffic also destroys thread scaling).
         .config("spark.sql.codegen.maxFields", "500")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
         .config("spark.sql.files.maxPartitionBytes", "134217728")
         .config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions
                     or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", os.environ.get(
             "SPARK_GRAFT_DRIVER_MEM",
             driver_memory(os.sysconf("SC_PAGE_SIZE")
                           * os.sysconf("SC_PHYS_PAGES")))))
    return b.getOrCreate()
