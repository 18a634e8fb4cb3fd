"""SparkSession factory with scale-appropriate defaults.

Local runs use ``local[N]``; on a real cluster the same config block applies
unchanged (AQE, shuffle partition sizing, Arrow transfer).  Nothing here is
environment-specific beyond the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "buildkite_logs_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults target the test rig (``local[$SPARK_GRAFT_CPUS]``); on a
    cluster, pass ``master=None`` with a pre-set spark-submit master and a
    larger ``shuffle_partitions`` (rule of thumb: 2-3x total cores, sized so
    post-shuffle partitions are 100-200 MB).

    If this thread already has an active session, it is returned as is:
    no argument here, and no default above, is applied to it.  A builder's
    ``getOrCreate`` would otherwise reset runtime confs such as
    ``spark.sql.shuffle.partitions`` on a session its caller set up.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM IS the executor — size it for 32
        # concurrent task threads plus cached/checkpointed blocks, or
        # execution pressure evicts storage mid-run and repeat timings
        # go bimodal (the rig has 128 GiB; a real cluster sets executor
        # memory through spark-submit instead)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # every distinct plan compiles a fresh whole-stage-codegen class;
        # a long session (30+ bench queries, iterative loops) fills the
        # default JIT code cache and the JVM silently stops compiling —
        # late queries then run interpreted at 2-5x cost
        .config(
            "spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m"
        )
        # tolerate parquet TIMESTAMP(NANOS) columns by surfacing them as
        # int64 instead of failing the read; columns already stored as
        # MICROS/MILLIS are unaffected (readers must branch on the read
        # dtype — see __spark_entry__._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
