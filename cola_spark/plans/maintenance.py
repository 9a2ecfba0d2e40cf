"""State maintenance — compaction of the append-only delta layouts.

At the 10^10-URL design point the seen set accrues one delta directory
per round; the per-round anti-join reads all of them. Periodic
compaction (every ~50-100 rounds, or off the critical path on a
separate maintenance job) folds them into a single hash-partitioned
snapshot — the same role Iceberg's rewrite_data_files maintenance
action plays; the filter layout keeps only the newest blob per part.

Crash-safety protocol: the round manifest is the one commit point, as
in the crawl loop (scheduler.py).
  1. write the folded snapshot to ``compacted=<k>``, k one past the
     newest live compacted dir;
  2. flip the manifest to name ``compacted=<k>`` instead of the dirs
     it folds (one atomic write);
  3. only then remove the folded dirs.
A crash before the flip leaves an orphan ``compacted=<k>`` that no
reader sees and the next compaction overwrites; a crash after it
leaves folded dirs that no reader sees either.

Maintenance assumes a single writer: it runs between crawl
invocations, never concurrently with ``run_crawl`` on the same workdir.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cola_spark.plans.scheduler import (
    CrawlConfig, _manifest, _p, _read_filters, _read_seen, latest_round,
)


def _commit_compaction(cfg: CrawlConfig, kind: str, fold) -> int:
    """Write ``fold(live)`` → flip the manifest → remove the folded
    dirs. Returns dirs removed. All driver-side FS mutations go through
    the cfg.io seam (the Spark parquet write speaks the workdir URI
    natively)."""
    m = _manifest(cfg)
    live = [] if m is None else m[kind]
    if len(live) <= 1:
        return 0
    k = 1 + max((int(d.split("=")[1]) for d in live if d.startswith("compacted=")), default=-1)
    fold(live).write.mode("overwrite").parquet(_p(cfg, kind, f"compacted={k}"))
    cfg.io.write_json_atomic(_p(cfg, "manifest.json"), {**m, kind: [f"compacted={k}"]})
    for d in live:  # folded dirs only after the commit
        cfg.io.remove_dir(_p(cfg, kind, d))
    return len(live)


def compact_seen(spark: SparkSession, cfg: CrawlConfig) -> int:
    """Fold all live seen dirs into one snapshot; returns dirs removed.
    The live dirs are disjoint (a round's delta holds only hashes absent
    from the live dirs it was admitted against), so the fold keeps every
    row."""

    def fold(live: list[str]):
        seen = _read_seen(spark, cfg, live)
        return seen.repartition(cfg.seen_parts, F.pmod(F.col("url_hash"), F.lit(cfg.seen_parts)))

    return _commit_compaction(cfg, "seen", fold)


def compact_filters(spark: SparkSession, cfg: CrawlConfig) -> int:
    """Keep only the latest blob per part; returns dirs removed."""
    return _commit_compaction(
        cfg, "filters", lambda live: _read_filters(spark, cfg, live, with_delta=True)
    )


def vacuum_old_state(cfg: CrawlConfig, keep_last: int = 2) -> int:
    """Drop per-round pending/budget snapshots older than the committed
    round and the ``keep_last - 1`` rounds before it. The committed
    round comes from the manifest: state a crashed round left behind
    never counts as the newest. Crawl logs are never vacuumed — they
    are the output."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    last = latest_round(cfg)
    if last is None:
        return 0
    old = [
        d for d in cfg.io.list_dirs(_p(cfg, "state", "round=*"))
        if int(d.rsplit("=", 1)[1]) <= last - keep_last
    ]
    for d in old:
        cfg.io.remove_dir(d)
    return len(old)
