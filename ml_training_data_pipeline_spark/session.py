"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime coalesce + skew-join), Arrow for the Pandas-UDF slow path,
UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ml_training_data_pipeline_spark",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    On a real cluster the master/memory settings come from spark-submit and
    everything here except the SQL conf is a no-op.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-split size: the 128m default is the right opening bid at
        # 100 TB (≈ 800k input splits; tasks big enough to amortize
        # scheduling, small enough to fit executor memory with wide
        # rows). Env-tunable so a deployment resizes splits — e.g. down
        # when wide binary media columns spill — without code changes.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        # testdata parquet carries TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert at the source (io/sources.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable-checkpoint deployments (SPARK_GRAFT_MATERIALIZE=
        # reliable): let the ContextCleaner reap out-of-scope checkpoint
        # dirs — without this they accumulate forever (the conf only
        # takes effect at context creation, so it lives here, not in
        # operators/materialize.py).
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
