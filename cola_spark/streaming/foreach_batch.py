"""Continuous crawl via foreachBatch — the streaming driver of the
scheduler's round (SURVEY §2.8: "optional Structured Streaming mode
with foreachBatch per round").

A stream of newly discovered frontier rows (file drops, Kafka, ...) is
consumed micro-batch by micro-batch, and micro-batch ``b`` is crawl
round ``b``: the same ``crawl_round`` body ``run_crawl`` loops
(admission → robots → cut → fetch → log → state barrier → manifest
flip), over the batch's rows plus the children and retries of round
``b - 1``. There is one round body and one commit point: the crawl
state lives in the workdir and ``manifest.json`` says which round is
committed, so a restarted crawler (a new instance over the same
workdir and checkpoint) picks up exactly where the last flip left it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cola_spark.operators.dedup import as_frontier
from cola_spark.plans.scheduler import (
    CrawlConfig, _derive_candidates, _manifest, _start_state, crawl_round,
)
from cola_spark.stateio import DEFAULT_IO


class ForeachBatchCrawler:
    """foreachBatch handler running one crawl round per micro-batch;
    call .attach(stream_df, checkpoint) to start.

    Structured Streaming delivers a batch at least once, so
    ``process_batch`` reads the committed round from the manifest:
    a batch at or below it is a replay of a committed round and does
    nothing, the next batch runs, and a gap raises. Round ``b`` writes
    its outputs in overwrite mode before its flip, so a replay of a
    batch whose flip did not happen redoes the round cleanly — the
    same argument that makes ``run_crawl``'s resume safe. The stream,
    not ``cfg.max_rounds`` or a round that schedules nothing, decides
    when the crawl ends. ``attach`` refuses a checkpoint with no
    offsets over a workdir that holds a committed crawl: its batches
    would start again at 0 and be dropped as replays."""

    def __init__(self, spark, robots: DataFrame, budgets: DataFrame,
                 images: DataFrame, cfg: CrawlConfig):
        self.spark = spark
        self.robots, self.budgets, self.images = robots, budgets, images
        self.cfg = cfg

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        m = _manifest(self.cfg)
        last = -1 if m is None else m["round"]
        if batch_id <= last:
            return  # replay of a committed round
        if batch_id > last + 1:
            raise ValueError(
                f"micro-batch {batch_id} does not follow committed round {last}"
            )
        candidates = as_frontier(batch_df)
        if batch_id > 0:
            candidates = candidates.unionByName(
                _derive_candidates(self.spark, self.cfg, batch_id - 1)
            )
        state = _start_state(self.spark, self.cfg, self.budgets, m)
        crawl_round(
            self.spark, self.cfg, batch_id, candidates, state, self.robots, self.images
        )

    def attach(self, frontier_stream: DataFrame, checkpoint: str):
        if _manifest(self.cfg) and not self.cfg.io.list_dirs(f"{checkpoint}/offsets/*"):
            raise ValueError(
                f"checkpoint {checkpoint} has no offsets but workdir "
                f"{self.cfg.workdir} holds a committed crawl"
            )
        return (
            frontier_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )


class StreamingCardinality:
    """foreachBatch HLL accumulator — the running frontier-cardinality
    metric (operators/cardinality.py) over an unbounded key stream.

    State is the 256-row register table, persisted as versioned dirs
    under ``hll/``: each micro-batch writes ONLY its own batch sketch
    (delta={batch_id}), and the current state is the elementwise-max
    merge of every dir there at read time. Because max is IDEMPOTENT
    and commutative, at-least-once replays and out-of-order batch
    arrivals cannot corrupt the metric — a replayed batch re-writes an
    identical delta (overwrite mode) and the merge absorbs it; no
    commit-ordering discipline is needed, in deliberate contrast to
    NearDupStreamGate's output-first protocol (dedup decisions are not
    a semilattice; a cardinality sketch is).

    compact() folds every dir into a new ``compacted=<k>`` and only
    then removes the dirs it folded, bounding the read fan-in the way
    the crawler's seen compaction does. The same semilattice argument
    makes it crash-safe without a manifest: whatever a crash leaves
    (a partial fold, folded dirs not yet removed) is a set of dirs
    whose merge is the committed state. Listing and removal go through
    the StateIO seam."""

    def __init__(self, spark, workdir: str, key_col: str = "url",
                 hash_kind: str = "md5"):
        self.spark, self.workdir = spark, workdir
        self.key_col, self.hash_kind = key_col, hash_kind
        DEFAULT_IO.makedirs(f"{workdir}/hll")

    def _dirs(self) -> list[str]:
        return DEFAULT_IO.list_dirs(f"{self.workdir}/hll/*=*")

    def registers(self) -> DataFrame:
        from cola_spark.operators.cardinality import M_DEFAULT, hll_merge

        zero = self.spark.range(M_DEFAULT).select(
            F.col("id").alias("bucket"),
            F.lit(0).cast("long").alias("register"),
        )
        dirs = self._dirs()
        if not dirs:
            return zero
        # an explicit schema reads a dir a crash left without data
        # files as empty; the zero table keeps every bucket present
        regs = self.spark.read.schema("bucket long, register long").parquet(*dirs)
        return hll_merge(zero, regs)

    def estimate_row(self):
        from cola_spark.operators.cardinality import hll_estimate

        return hll_estimate(self.registers()).first()

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from cola_spark.operators.cardinality import hll_registers

        hll_registers(
            batch_df, key_col=self.key_col, hash_kind=self.hash_kind
        ).write.mode("overwrite").parquet(
            f"{self.workdir}/hll/delta={batch_id}"
        )

    def compact(self) -> None:
        dirs = self._dirs()
        if len(dirs) <= 1:
            return
        k = 1 + max(
            (int(d.rsplit("=", 1)[1]) for d in dirs if "/compacted=" in d), default=-1
        )
        self.registers().write.mode("overwrite").parquet(
            f"{self.workdir}/hll/compacted={k}"
        )
        for d in dirs:  # folded dirs only after the fold is written
            DEFAULT_IO.remove_dir(d)

    def attach(self, key_stream: DataFrame, checkpoint: str):
        return (
            key_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
