"""Parallelism repair for CPU-dense stages over byte-light inputs.

Two local realities starve CPU-heavy operators of cores while the data
is small in BYTES (single-digit MB of text/vectors that cost minutes of
regex/hash/distance CPU):

- a single-row-group parquet file can never scan with more than one
  task (row groups are the split unit), and
- AQE partition coalescing targets bytes (minPartitionSize), so a 5 MB
  post-shuffle frame collapses to 1-2 partitions regardless of how much
  CPU the next projection burns per row.

spread() raises a frame to the session's default parallelism with one
round-robin repartition when (and only when) the plan says it has fewer
partitions — a no-op on well-partitioned input, so at 100 TB (where
scans and shuffles already exceed core count) it never fires and never
adds an exchange; it runs no Spark job, so an op that spreads stays
lazy. Values are row-local or order-insensitive in every caller.

The join-shape helpers the mlops ops share live here too: cap_groups
(drop over-cap groups before a bucket self-join, hot_groups to audit
them) and fits_broadcast (one size check for broadcast-if-small).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """`df`, repartitioned round-robin to `target` (default: the default
    parallelism) when it would run on fewer partitions. The count comes
    from the plan, as probing the RDD under AQE runs the upstream stages
    as jobs: a plan with no exchange reads its scan splits (no job); an
    explicit `repartition(n)` at the root keeps `n`; any other shuffle is
    coalesced by AQE to one partition per `minPartitionSize` of data, at
    most the default parallelism, estimated from the plan's size."""
    if getattr(df, "isStreaming", False):
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    t = target or cores
    qe = df._jdf.queryExecution()
    if "AdaptiveSparkPlan" not in qe.executedPlan().toString():
        n = df.rdd.getNumPartitions()
    else:
        root = qe.logical()
        if root.nodeName() == "Repartition":
            n = root.numPartitions()
        else:
            min_size = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
            )
            n = min(cores, (plan_bytes(df) or 0) // min_size)
    return df.repartition(t) if n < t else df


def plan_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate of a frame (bytes) — file-size-derived
    for scans; None when the JVM plan is unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# broadcast budget for fits_broadcast: local byte-light runs get
# shuffle-free joins while cluster-scale inputs keep the shuffled plan
BROADCAST_BUDGET_BYTES = 256 << 20


def fits_broadcast(frame: DataFrame) -> bool:
    """True when the optimizer's size estimate of `frame` — the frame
    that would be broadcast, or a frame that bounds it — is within
    BROADCAST_BUDGET_BYTES. An unknown size never fits."""
    return 0 < (plan_bytes(frame) or 0) <= BROADCAST_BUDGET_BYTES


def hot_groups(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """(*keys, cnt) for every group of `keys` holding more than `cap`
    rows — the groups cap_groups drops, for audit logs."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > cap)
    )


def cap_groups(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop every group of `keys` holding more than `cap` rows (None:
    no cap). A bucket's self-join cost is quadratic in its size, so one
    hot bucket dominates everything; report what was dropped with
    hot_groups on the same frame — capping is never silent.

    Rows with a NULL key are dropped first: they can never equi-join,
    and dropping them keeps exactly the rows an inner join against the
    under-cap key list keeps. A left-anti join can only build on the
    over-cap key list (tiny by the capping premise), so the planner can
    never pick the capped frame as the broadcast side."""
    if cap is None:
        return df
    df = df.where(reduce(operator.and_, [F.col(k).isNotNull() for k in keys]))
    return df.join(hot_groups(df, keys, cap).select(*keys), keys, "left_anti")
