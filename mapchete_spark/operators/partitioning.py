"""Input-parallelism guard for Python-kernel operators.

A single-file parquet scan (one row group) is ONE Spark partition, so
every mapInPandas kernel chained on it runs on a single task no matter
how many cores the session has — the guide's 'input skew' case (§2.5):
correctness-scale corpora measured 4-6x slower than the same operator
over a spread input. ``spread_small_input`` hash-repartitions such
inputs up to the session parallelism; anything already at or above it
(any real corpus) passes through untouched, so no shuffle is added at
scale. Hash-partitioning by the row id also hands downstream
groupBy(id) consumers their required distribution, saving the exchange
that would otherwise move the EXPLODED rows.

The partition count is read from the physical plan while the DataFrame
is being built, so it must start no Spark job. That holds for narrow
plans over scans: building their RDD only splits files and local rows.
It does not hold once a shuffle, a broadcast, a subquery or a cached
relation sits in the plan (under AQE, reading the count runs the
upstream stages and returns the count AQE coalesced them to). Such an
input is already sized by that shuffle or cache, so it passes through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _decided_at_run_time(node) -> bool:
    """Whether a physical plan's partitions are known only after part of
    it runs: an AQE root (present only over a shuffle or subquery), an
    exchange, a cached relation or a subquery."""
    name = node.nodeName()
    if (
        name in ("AdaptiveSparkPlan", "InMemoryTableScan")
        or "Exchange" in name
        or node.subqueries().nonEmpty()
    ):
        return True
    kids = node.children()
    return any(_decided_at_run_time(kids.apply(i)) for i in range(kids.size()))


def spread_small_input(df: DataFrame, key_col: str) -> DataFrame:
    if df.isStreaming:  # micro-batch sizing is the stream's own knob
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if _decided_at_run_time(qe.executedPlan()) or qe.toRdd().getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key_col))
