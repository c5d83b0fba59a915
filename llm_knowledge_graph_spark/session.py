"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point and scaled down by the
caller for local tests:
  * AQE on (runtime shuffle-partition coalescing + skew-join splitting)
  * Arrow execution for all pandas UDFs, bounded batch size so the
    extraction UDF's per-batch memory stays flat
  * shuffle partitions sized to the cluster (caller passes cores locally;
    a real cluster would use 2-3x total cores)
  * `file:` paths through Hadoop's RawLocalFileSystem, without the `.crc`
    sidecar per written file. Without the native libhadoop, every file and
    directory Hadoop creates locally costs one `chmod` process forked from
    the driver JVM, and the checksummed filesystem chmods each sidecar too.
    The raw one forks about a quarter fewer of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "llm-knowledge-graph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] / local[N,maxFailures] → N; cluster masters and
        # local[*] fall back to the cpu count
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else ""
        n = n.split(",")[0].strip()
        shuffle_partitions = cpus if n in ("", "*") else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
