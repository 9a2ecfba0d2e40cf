"""Scalable exact global ranking — the total-order artifact without a
single-partition window.

The determinism contract (BASELINE crawl-order match) needs a global
row_number over (round, priority, host, seq). A bare
``Window.orderBy(...)`` funnels every row through ONE task — the
classic scale-killer. The exact two-phase equivalent:

  1. range-repartition by the sort keys (Exchange rangepartitioning —
     the same shuffle a global sort would do, parallel);
  2. per-partition local rank (window partitioned by the physical
     partition id) + cumulative row-count offsets per partition.

The offsets aggregate is ≤ P rows, so its single-partition window is
over the partition COUNTS, never the data. Every stage that touches
row-scale data is parallel.

Correctness note: the partition id must be consistent between the
offsets subtree and the rank subtree. RangePartitioner samples with an
RDD-id-derived seed, so two *separate* materializations of the same
range exchange can pick different bounds (and spark_partition_id's
nondeterministic tag blocks exchange reuse under AQE) — measured: a
20k-row two-subtree plan produced non-permutation ranks. The fix is to
persist() the ranged projection: one RDD instance → the bounds are
sampled exactly once and both subtrees read identical partitions.
The persisted projection is pinned through cola_spark.session: the
round's loop driver releases it, or a one-shot call materializes the
result and frees it at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cola_spark.session import materialize, pin


def global_rank(
    df: DataFrame, keys: list[str], out_col: str = "global_rank",
    parts: int | None = None, eager_release: bool = False,
) -> DataFrame:
    """Add an exact 1-based global rank over the total order ``keys``.

    Equivalent to row_number() over (ORDER BY keys) — keys must be a
    total order (no ties), which (…, seq) guarantees — but scales: no
    stage moves more than 1/P of the rows through one task.

    eager_release=False (default): the ranged intermediate stays pinned
    until the caller's ``session.release()`` once the (lazy) result is
    materialized — the loop-driver protocol (the scheduler releases per
    round). eager_release=True: ``session.materialize`` the result now
    and free the ranged frame before returning, so repeated one-shot
    invocations (driver gate, bench loops) never accumulate pins.
    """
    spark = df.sparkSession
    parts = parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    key_cols = [F.col(k) for k in keys]
    ranged = pin(
        df.repartitionByRange(parts, *key_cols).withColumn("_pid", F.spark_partition_id())
    )
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy("_pid").orderBy(*key_cols)
    out = (
        ranged.withColumn("_lr", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_lr")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )
    return materialize(out, [ranged]) if eager_release else out
