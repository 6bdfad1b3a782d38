"""SparkSession factory tuned for the pipeline.

Local mode is the test proxy for a multi-executor cluster; partitioning
choices (shuffle partitions ~ cores, AQE on, Arrow on) are the ones
that survive a 1000-executor scale-up.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation, SparkSession


def get_spark(
    app_name: str = "gogstash_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with pipeline defaults.

    - session timezone pinned UTC (gogstash forces UTC at serialization,
      reference config/logevent/logevent.go:122; duckdb oracle timestamps
      are UTC-naive)
    - AQE on: runtime coalesce + skew-join handling for hot conv_ids
    - Arrow on: vectorized pandas UDFs for the mlops kernels (grok is
      native and needs none)
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = cores if inner == "*" else max(int(inner), 1)
        else:
            shuffle_partitions = 2 * cores

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # smaller parquet row groups: N concurrent writer tasks x open
        # files x buffer must fit the heap; 128 MB rowgroups at 32 local
        # tasks triggered a GC spiral (measured 114s -> 46s at sf1)
        .config("spark.hadoop.parquet.block.size", str(16 * 1024 * 1024))
        # zstd over snappy for parquet: the fan-out write is the
        # pipeline's disk-bound, non-scaling fraction (sf3 decomposition:
        # compute scales 2.42x from 8->32 cores, write+readback only
        # 1.65x at 37% of the wall). zstd writes 39% fewer bytes on this
        # text-heavy data and cut the sf3 e2e 57.7s -> 40.8s (interleaved
        # A/B, local[32]); on a cluster the saved bytes are also network
        # to the object store.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def observed(obs: Observation) -> dict:
    """`obs`'s metrics, {} when its node never ran. On an empty input
    Catalyst or AQE can prune the observed node; pyspark's
    Observation.get then fails on the schema-less row, while the JVM's
    get returns an empty map. Blocks, like get, until the observing
    action has run."""
    return dict(obs._jo.getAsJava())
