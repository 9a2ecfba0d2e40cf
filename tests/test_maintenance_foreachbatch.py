"""State compaction + foreachBatch continuous mode."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from cola_spark.plans.maintenance import compact_filters, compact_seen, vacuum_old_state
from cola_spark.plans.scheduler import CrawlConfig, crawl_log, final_state, run_crawl
from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots


def test_compaction_preserves_state_and_resume(spark, tmp_path):
    wd = str(tmp_path / "c")
    seeds = gen_frontier_seeds(spark, 300, n_hosts=8, pages_per_host=20)
    robots, budgets, images = gen_robots(spark, 8), gen_budgets(spark, 8), gen_images(spark, 30)
    cfg = CrawlConfig(workdir=wd, n_images=30, pages_per_host=20, max_rounds=3,
                      decode=False, dedup_mode="hybrid", filter_parts=8)
    run_crawl(spark, seeds, robots, budgets, images, cfg)
    _, seen_before, _ = final_state(spark, cfg)
    before = {r.url_hash for r in seen_before.collect()}
    n_seen_dirs = len(glob.glob(f"{wd}/seen/delta=*"))
    assert n_seen_dirs >= 2

    assert compact_seen(spark, cfg) == n_seen_dirs
    assert compact_filters(spark, cfg) >= 2
    assert len(glob.glob(f"{wd}/seen/delta=*")) == 0
    assert len(glob.glob(f"{wd}/seen/compacted=*")) == 1
    assert len(glob.glob(f"{wd}/filters/delta=*")) == 0
    assert len(glob.glob(f"{wd}/filters/compacted=*")) == 1
    _, seen_after, _ = final_state(spark, cfg)
    assert {r.url_hash for r in seen_after.collect()} == before

    removed = vacuum_old_state(cfg, keep_last=1)
    assert removed >= 1

    # resume continues correctly on the compacted layout
    cfg.max_rounds = 5
    log = run_crawl(spark, seeds, robots, budgets, images, cfg, resume=True)
    # compare to straight run at 5 rounds
    wd2 = str(tmp_path / "f")
    cfg2 = CrawlConfig(workdir=wd2, n_images=30, pages_per_host=20, max_rounds=5,
                       decode=False, dedup_mode="hybrid", filter_parts=8)
    full = run_crawl(spark, seeds, robots, budgets, images, cfg2)
    a = [(r.round, r.host, r.seq) for r in log.orderBy("global_rank").collect()]
    b = [(r.round, r.host, r.seq) for r in full.orderBy("global_rank").collect()]
    assert a == b


def test_compaction_crash_before_flip_reads_committed_set(spark, tmp_path):
    """Crash-safety: compaction commits by flipping the manifest. A crash
    after the snapshot write but before the flip leaves an orphan
    ``compacted=<k>`` that readers ignore; the next compaction overwrites
    it and folds everything."""
    from cola_spark.plans.scheduler import _manifest
    from cola_spark.stateio import LocalStateIO

    class CrashAtFlip(LocalStateIO):
        def write_text_atomic(self, path, data):
            if os.path.basename(path) == "manifest.json":
                raise RuntimeError("crash before the manifest flip")
            super().write_text_atomic(path, data)

    wd = str(tmp_path / "cw")
    seeds = gen_frontier_seeds(spark, 200, n_hosts=6, pages_per_host=15)
    robots, budgets, images = gen_robots(spark, 6), gen_budgets(spark, 6), gen_images(spark, 20)
    cfg = CrawlConfig(workdir=wd, n_images=20, pages_per_host=15, max_rounds=3, decode=False)
    run_crawl(spark, seeds, robots, budgets, images, cfg)
    live = _manifest(cfg)["seen"]
    before = sorted(r.url_hash for r in final_state(spark, cfg)[1].collect())
    assert before and len(live) >= 2

    cfg.io = CrashAtFlip()
    with pytest.raises(RuntimeError, match="flip"):
        compact_seen(spark, cfg)
    cfg.io = LocalStateIO()
    # crash here — the orphan snapshot AND the live deltas are on disk
    assert glob.glob(f"{wd}/seen/compacted=*") == [f"{wd}/seen/compacted=0"]
    assert _manifest(cfg)["seen"] == live
    mid = sorted(r.url_hash for r in final_state(spark, cfg)[1].collect())
    assert mid == before  # exactly the committed rows, not a superset

    # recovery: the next compaction overwrites the orphan and folds all
    assert compact_seen(spark, cfg) == len(live)
    assert _manifest(cfg)["seen"] == ["compacted=0"]
    after = sorted(r.url_hash for r in final_state(spark, cfg)[1].collect())
    assert after == before
    assert len(glob.glob(f"{wd}/seen/delta=*")) == 0
    assert len(glob.glob(f"{wd}/seen/compacted=*")) == 1


def test_vacuum_keeps_committed_round_over_orphan(spark, tmp_path):
    """A crash after round r+1's state writes leaves state/round=r+1
    behind; vacuum keeps what the manifest commits (round r), so the
    crawl still resumes. keep_last < 1 would drop the committed round."""
    import shutil

    from cola_spark.plans.scheduler import latest_round

    cfg = CrawlConfig(workdir=str(tmp_path / "v"), n_images=20, pages_per_host=10,
                      max_rounds=2, decode=False)
    seeds = gen_frontier_seeds(spark, 60, n_hosts=4, pages_per_host=10)
    robots, budgets, images = gen_robots(spark, 4), gen_budgets(spark, 4), gen_images(spark, 20)
    run_crawl(spark, seeds, robots, budgets, images, cfg)
    assert latest_round(cfg) == 1
    state = f"{cfg.workdir}/state"
    shutil.copytree(f"{state}/round=1", f"{state}/round=2")  # the orphan

    assert vacuum_old_state(cfg, keep_last=1) == 1
    assert sorted(os.listdir(state)) == ["round=1", "round=2"]
    with pytest.raises(ValueError, match="keep_last"):
        vacuum_old_state(cfg, keep_last=0)
    cfg.max_rounds = 3
    run_crawl(spark, seeds, robots, budgets, images, cfg, resume=True)
    assert latest_round(cfg) == 2


def test_foreach_batch_pending_carryover(spark, tmp_path):
    """Rows admitted but beyond a micro-batch's per-host cap must stay
    schedulable in later micro-batches (they are 'seen' already, so
    dropping them would lose them forever)."""
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    d = str(tmp_path / "drops2")
    os.makedirs(d)
    # one host, 6 distinct pages, budget 10 but rate 2/batch
    urls = [(f"http://only.example/p/{i}", 0, i, False) for i in range(6)]
    fr = prepare_frontier(
        spark.createDataFrame(urls, "url string, priority int, seq long, force boolean")
    )
    # single part-file per drop: with maxFilesPerTrigger=1 each drop is
    # exactly one micro-batch
    fr.repartition(1).write.mode("overwrite").parquet(f"{d}/b0")
    # batches 1-2 carry no new URLs for the host — only the carry-over
    fr.limit(0).repartition(1).write.mode("overwrite").parquet(f"{d}/b1")
    fr.limit(0).repartition(1).write.mode("overwrite").parquet(f"{d}/b2")

    budgets = spark.createDataFrame(
        [("only.example", 10, 2)], "host string, budget long, rate_per_round long"
    )
    robots = spark.createDataFrame([], "host string, disallow_prefix string")
    schema = spark.read.parquet(f"{d}/b0").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/b*")
    )
    crawler = ForeachBatchCrawler(spark, robots, budgets, str(tmp_path / "wd2"))
    q = crawler.attach(stream, str(tmp_path / "ck2"))
    q.processAllAvailable()
    q.stop()

    sched = spark.read.parquet(f"{tmp_path}/wd2/sched/batch=*")
    per_batch = {r.batch_id: r.n for r in sched.groupBy("batch_id").agg(F.count("*").alias("n")).collect()}
    # rate caps each batch at 2; carry-over keeps later batches fed
    assert per_batch.get(0) == 2 and per_batch.get(1) == 2 and per_batch.get(2) == 2
    # all six distinct pages eventually scheduled, none lost, none duplicated
    assert sched.select("url_hash").distinct().count() == 6


def test_foreach_batch_crawler(spark, tmp_path):
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    d = str(tmp_path / "drops")
    os.makedirs(d)
    seeds = gen_frontier_seeds(spark, 400, n_hosts=8, pages_per_host=20)
    fr = prepare_frontier(seeds.select("url", "priority", "seq", "force"))
    for i in range(2):
        fr.filter(F.pmod(F.col("seq"), F.lit(2)) == i).write.mode("overwrite").parquet(f"{d}/b{i}")

    schema = spark.read.parquet(f"{d}/b0").schema
    stream = spark.readStream.schema(schema).parquet(f"{d}/b*")
    crawler = ForeachBatchCrawler(
        spark, gen_robots(spark, 8), gen_budgets(spark, 8), str(tmp_path / "wd")
    )
    q = crawler.attach(stream, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    sched = spark.read.parquet(f"{tmp_path}/wd/sched/batch=*")
    n = sched.count()
    assert n > 0
    # no URL scheduled twice across micro-batches (cross-batch dedup state)
    assert sched.select("url_hash").distinct().count() == n
    # per-host totals never exceed budget
    per_host = sched.groupBy("host").agg(F.count("*").alias("n")).collect()
    budgets = {r.host: r.budget for r in gen_budgets(spark, 8).collect()}
    assert all(r.n <= budgets[r.host] for r in per_host)
