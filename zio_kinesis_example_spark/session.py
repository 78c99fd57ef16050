"""SparkSession factory.

Local mode is only the test harness; every config here is chosen to also be
the right default on a 1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy
  switch) so plans self-correct at scale.
- ``spark.sql.shuffle.partitions`` small locally; on a real cluster this is
  superseded by AQE's coalescing + initial partition num.
- Arrow enabled so every Python-side exchange (pandas UDFs, toPandas) is
  columnar-batched, never row-at-a-time pickling.
- UTC session timezone: deterministic date/timestamp semantics regardless of
  host timezone (the reference pins behavior via explicit serde the same way,
  TestMsgJsonSerde.scala:12-15).
- Streaming checkpoints through ``FileSystemBasedCheckpointFileManager``.
  Every micro-batch writes three metadata-log files (source log, offset
  log, commit log), and every state-store delta goes through the same
  manager. The pip PySpark ships no native Hadoop library, so the default
  ``FileContext``-based manager sets permissions with a forked ``chmod``
  and renames through forked status/readlink commands. Measured on a
  4-core host, one atomic log-file write started 20 processes and took
  44 ms, against 4 processes (the ``chmod`` of the file and its ``.crc``)
  and 13 ms with the ``FileSystem``-based manager. On ``file:`` both
  managers do the same check-then-rename, so atomicity is unchanged. It
  is set only when this factory creates the session, not in
  ``RUNTIME_CONFS``: a driver-provided cluster session, which may
  checkpoint to HDFS or an object store, keeps Spark's default.
- A generated-class cache (``spark.sql.codegen.cache.maxEntries``) of
  ``CODEGEN_CACHE_MAX_ENTRIES`` = 8192 instead of Spark's 100. Spark
  caches each compiled class by its source; a miss costs a Janino compile.
  One cold pass over the 220 benched queries compiles 2,220 distinct
  classes at sf0.001 and 2,225 at sf0.01 (counted with an unbounded
  cache, from ``CodegenMetrics``); the cap is the next power of two at or
  above twice that. With 100 entries every pass evicts what the next one
  needs: a warm pass at sf0.001 recompiled 2,834 classes, against 44 with
  the larger cache, and took 129 s instead of 93 s on a 4-core host.
  Holding the classes of one pass cost 16 MB of Metaspace after a full GC
  (207 MB against 190 MB). It is a static conf, so it is set only here,
  not in ``RUNTIME_CONFS``; a driver-provided session keeps Spark's
  default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Spark's cache of compiled generated classes (a static conf, builder only).
#: The default of 100 holds less than one batch-floor pass (196 classes), so
#: every pass recompiles what the previous one evicted; see the module
#: docstring for how this size was measured.
CODEGEN_CACHE_MAX_ENTRIES = 8192

# Runtime-settable confs applied to *any* session (including a driver-provided
# one) before reading testdata. Kept separate from builder-time confs so that
# `catalog.configure(spark)` can apply them to sessions we did not create.
RUNTIME_CONFS: dict[str, str] = {
    # a producer may write events.ts as TIMESTAMP(NANOS); Spark's parquet
    # reader rejects it unless read as raw int64 ns (converted in
    # catalog.load()).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # plan-affecting confs that must match between the bench session and
    # a driver-provided one (r8 review: without these the driver ran
    # 10MB-threshold shuffle joins and row-pickled toPandas where the
    # bench broadcast and Arrow-batched — different plans, same values)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def get_spark(app_name: str = "zio-kinesis-example-spark",
              cpus: str | int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or get) a SparkSession for tests/bench.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # local checkpoints: 4 forked processes per log write instead of
        # 20 (see the module docstring)
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
