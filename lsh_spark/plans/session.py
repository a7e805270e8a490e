"""SparkSession builder with scale-oriented defaults.

Tuned for the driver's local[32] harness but written for a real cluster:
AQE on (runtime coalescing + skew-join splitting), Arrow enabled for every
Python boundary, sane shuffle-partition default.  On a 1000-executor
cluster the same config holds — AQE re-plans partition counts at runtime,
so ``spark.sql.shuffle.partitions`` is an upper bound rather than a tuning
knob to chase.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lsh_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: "Mapping[str, str] | None" = None,
) -> SparkSession:
    """The session every lsh_spark entry point runs on.

    ``extra_conf`` carries deployment settings the defaults below do not
    cover (e.g. ``spark.eventLog.*`` for a profiler); it is applied last,
    so it also wins over a default of the same key."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # No-op on Spark 4.1 (TIMESTAMP(NANOS) parquet arrives as
        # TIMESTAMP_NTZ truncated to micros regardless); kept for older
        # Sparks whose vectorized reader rejects nanos without it.
        # sources.io branches on the actually-loaded dtype either way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill/broadcast scratch (guide §6 I/O layout): default to a
    # RAM-backed dir when the host has one — scratch blocks are
    # intra-query and never survive the run, so durability buys nothing
    # while ext4 fsync/writeback costs show up in every exchange.  On a
    # real cluster point LSH_SPARK_LOCAL_DIR (or Spark's standard
    # SPARK_LOCAL_DIRS) at the fast local disk array instead: at 100 TB
    # shuffle volumes exceed RAM, so tmpfs is strictly a
    # small-shuffle-regime default, not a tuning constant the code
    # depends on.
    local_dir = os.environ.get("LSH_SPARK_LOCAL_DIR")
    if local_dir is None and "SPARK_LOCAL_DIRS" not in os.environ \
            and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/lsh_spark_local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # Avro datasource opt-in: the pip pyspark distribution omits the
    # spark-avro module; on a network-enabled deployment set
    # LSH_SPARK_AVRO_PACKAGE=org.apache.spark:spark-avro_2.13:<ver> and
    # read_avro/write_avro light up.  NOTE: builder.config() REPLACES
    # any spark.jars.packages set elsewhere (spark-defaults, submit
    # args) — the env var accepts a comma-separated coordinate list, so
    # put every needed package in it when using this opt-in.
    avro_pkg = os.environ.get("LSH_SPARK_AVRO_PACKAGE")
    if avro_pkg:
        builder = builder.config("spark.jars.packages", avro_pkg)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
