"""Benchmark workloads: generated crawl inputs plus their oracle reference.

Each workload is one traffic shape for ``plans.scheduler.run_crawl``.
Inputs come from the package's own generators (``cola_spark.sources``)
over an id window that the benchmark seed selects, are written to
parquet once per process, and the program only ever reads them back.
The Zipf host skew and the duplicate mix stay the same from seed to
seed while the URLs themselves change.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cola_spark.functions.urls import url_hash_col
from cola_spark.plans.oracle import run_oracle
from cola_spark.plans.scheduler import CrawlConfig
from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_robots
from cola_spark.stateio import StateIO

# seeds map onto this many disjoint id windows; bounding the window keeps
# child seqs (seq * 4 + 10^12 per generation) far from int64 overflow
ID_WINDOWS = 1000


@dataclass(frozen=True)
class Workload:
    name: str
    n_seeds: int
    n_hosts: int
    pages_per_host: int
    max_rounds: int
    dedup_mode: str
    decode: bool
    rate: int | None = None  # overrides the generator's rate_per_round
    budget: int | None = None  # overrides the generator's budget
    warmups: int = 1  # full-size crawls in set-up, before any timed crawl

    def config(self, workdir: str, io: StateIO) -> CrawlConfig:
        return CrawlConfig(
            workdir=workdir,
            pages_per_host=self.pages_per_host,
            max_rounds=self.max_rounds,
            dedup_mode=self.dedup_mode,
            decode=self.decode,
            fetch_mode="fused",
            io=io,
        )

    def tiny(self) -> "Workload":
        """The same shape at a size for the self-test."""
        return replace(self, n_seeds=600, n_hosts=30)


# Small on purpose: on 4 cores a round costs 5-8 s at any size a
# one-minute run can afford, and a cold crawl about twice a warm one.
WORKLOADS = {
    w.name: w
    for w in [
        # one intake round over raw seeds plus the round that re-offers
        # their discovered links; the fused decode makes fetch the
        # heaviest layer and the per-row layers see the most rows
        Workload("bulk_intake", n_seeds=4_000, n_hosts=400, pages_per_host=50,
                 max_rounds=2, dedup_mode="exact", decode=True, rate=50),
        # cuckoo-filtered dedup with filter blobs written every round, a
        # standing backlog feeding the priority cut, no decode. Its crawl
        # time still falls by a fifth from the first to the second crawl
        # after one warm-up (the JVM keeps compiling), so it warms up twice.
        Workload("revisit_hybrid", n_seeds=2_500, n_hosts=50, pages_per_host=20,
                 max_rounds=2, dedup_mode="hybrid", decode=False, rate=5, budget=1000,
                 warmups=2),
    ]
}


class _IdWindow:
    """Session stand-in whose ``range(n)`` yields ids [start, start + n),
    so the package generator runs unchanged over a seed-selected window."""

    def __init__(self, spark: SparkSession, start: int):
        self._spark = spark
        self._start = start

    @property
    def sparkContext(self):
        return self._spark.sparkContext

    def range(self, n: int, numPartitions: int | None = None) -> DataFrame:
        return self._spark.range(self._start, self._start + n, numPartitions=numPartitions)


def write_inputs(spark: SparkSession, wl: Workload, seed: int, out: str) -> None:
    """Generate the workload's seeds, robots and budgets and write them
    as parquet under ``out``."""
    start = (seed % ID_WINDOWS) * wl.n_seeds
    seeds = gen_frontier_seeds(
        _IdWindow(spark, start), wl.n_seeds, n_hosts=wl.n_hosts,
        pages_per_host=wl.pages_per_host,
    ).select("url", "priority", "seq", "force")
    budgets = gen_budgets(spark, wl.n_hosts)
    if wl.rate is not None:
        budgets = budgets.withColumn("rate_per_round", F.lit(wl.rate).cast("long"))
    if wl.budget is not None:
        budgets = budgets.withColumn("budget", F.lit(wl.budget).cast("long"))
    seeds.write.mode("overwrite").parquet(os.path.join(out, "seeds"))
    gen_robots(spark, wl.n_hosts).write.mode("overwrite").parquet(os.path.join(out, "robots"))
    budgets.write.mode("overwrite").parquet(os.path.join(out, "budgets"))


def read_inputs(spark: SparkSession, out: str) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(seeds, robots, budgets, images) as run_crawl takes them. The
    fused fetch and the no-decode fetch never read the images table."""
    return (
        spark.read.parquet(os.path.join(out, "seeds")),
        spark.read.parquet(os.path.join(out, "robots")),
        spark.read.parquet(os.path.join(out, "budgets")),
        spark.createDataFrame([], "image_id string"),
    )


ORDER_COLS = ["round", "priority", "host", "seq", "url_canon", "host_rank", "global_rank", "fetch_ok"]


@dataclass
class Reference:
    """The oracle's crawl order and seen set for one workload's inputs."""

    order: list[tuple]
    seen_hashes: set[int]

    def check(self, log_rows: list, seen_hashes: list[int] | None, decode: bool, rounds: int) -> str | None:
        """None if the crawl matches, else what differs. ``log_rows`` are
        ORDER_COLS (+ invariant_ok when decoding) in global_rank order,
        from a crawl run for ``rounds`` rounds; ``seen_hashes`` is its
        final seen set, or None to skip that check."""
        got = [tuple(r[: len(ORDER_COLS)]) for r in log_rows]
        want = [o for o in self.order if o[0] < rounds]
        if got != want:
            diff = next(((a, b) for a, b in zip(got, want) if a != b), None)
            return f"crawl order: {len(got)} rows vs oracle {len(want)}; first diff {diff}"
        if seen_hashes is not None and (
            len(seen_hashes) != len(self.seen_hashes) or set(seen_hashes) != self.seen_hashes
        ):
            return f"seen set: {len(seen_hashes)} hashes vs oracle {len(self.seen_hashes)}"
        if decode:
            bad = sum(1 for r in log_rows if r[ORDER_COLS.index("fetch_ok")] and r[-1] is not True)
            if bad:
                return f"{bad} decoded rows fail invariant_ok"
        return None


def oracle_reference(spark: SparkSession, wl: Workload, inputs: str) -> Reference:
    seeds, robots, budgets, _ = read_inputs(spark, inputs)
    res = run_oracle(
        [r.asDict() for r in seeds.collect()],
        [r.asDict() for r in robots.collect()],
        [r.asDict() for r in budgets.collect()],
        pages_per_host=wl.pages_per_host,
        max_rounds=wl.max_rounds,
    )
    order = [
        (s["round"], s["priority"], s["host"], s["seq"], s["url_canon"],
         s["host_rank"], s["global_rank"], s["fetch_ok"])
        for s in res["order"]
    ]
    canon = spark.createDataFrame([(u,) for u in res["seen"]], "c string")
    hashes = {r.h for r in canon.select(url_hash_col(F.col("c")).alias("h")).collect()}
    return Reference(order, hashes)
