"""Flagship query: one full scheduler round over a frontier derived
from the driver's orders table — canonicalize → dedup → robots →
salted priority/budget cut — returning the scheduled crawl batch in
deterministic global order. This is `entry(spark)` in the driver
contract and exercises every M1 operator in one plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cola_spark.operators.budget import budget_caps, init_budget_state
from cola_spark.operators.dedup import admit, prepare_frontier
from cola_spark.operators.priority import schedule_cut
from cola_spark.operators.ranking import global_rank
from cola_spark.operators.robots import robots_gate


def orders_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map orders rows onto frontier rows: ~100 synthetic hosts, pages
    from order keys (collisions intended — they exercise dedup),
    priority from o_orderpriority, seq = o_orderkey (FIFO)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    host_id = F.pmod(F.col("o_custkey"), F.lit(100))
    page = F.pmod(F.col("o_orderkey"), F.lit(50))
    prio = (F.substring(F.col("o_orderpriority"), 1, 1).cast("int") - 1) % 3
    return o.select(
        F.format_string("http://c%03d.shop/p/%d", host_id, page).alias("url"),
        prio.cast("int").alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.lit(False).alias("force"),
    )


def scheduled_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round's scheduled rows, before the global order."""
    frontier = prepare_frontier(orders_frontier(spark, sf_dir))
    seen = spark.createDataFrame([], "url_hash long")
    admitted, _new_seen = admit(frontier, seen)

    hosts = admitted.select("host").distinct()
    robots = hosts.filter(F.col("host").rlike("^c0[0-9]7")).select(
        "host", F.lit("/p/1").alias("disallow_prefix")
    )
    allowed = robots_gate(admitted, robots)

    budgets = hosts.select(
        "host", F.lit(8).cast("long").alias("budget"), F.lit(8).cast("long").alias("rate_per_round")
    )
    scheduled = schedule_cut(allowed, budget_caps(init_budget_state(budgets)))
    return scheduled.select("url", "url_canon", "host", "priority", "seq", "host_rank")


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduled batch, ranked and materialized (a one-shot call:
    it leaves nothing pinned)."""
    return global_rank(scheduled_batch(spark, sf_dir), ["priority", "host", "seq"], eager_release=True)
