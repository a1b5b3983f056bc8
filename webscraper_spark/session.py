"""SparkSession factory with engine-wide defaults.

Local-mode settings mirror what we would set fleet-wide on a real cluster:
AQE on (runtime skew-join splitting for hot hosts), Arrow on (every
per-row kernel in this engine is a vectorized pandas UDF), UTC session
time zone (all politeness clocks are timezone-naive UTC instants).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "webscraper_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` accepts an int (``local[N]``), ``"*"``, or None (env
    ``SPARK_GRAFT_CPUS`` or all cores). On a real cluster these builder
    calls are replaced by spark-submit confs; everything else is identical.
    """
    # under spark-submit the master comes from the submit command; only
    # synthesize local[N] when none was provided (plain `python` runs)
    from pyspark import SparkConf

    submitted_master = SparkConf().get("spark.master", None)
    if cores is None and submitted_master:
        master = None
    else:
        if cores is None:
            cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores) , 8)
        except (TypeError, ValueError):
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        (SparkSession.builder.master(master) if master else SparkSession.builder)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime Bloom join filters (SURVEY §4) for inner and semi joins
        # with a selective side; Spark 4.1 builds none for the round's
        # left_anti seen probe, and this setting has no A/B yet
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
