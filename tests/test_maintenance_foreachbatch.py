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


def _drop(spark, d, i, rows):
    """Frontier rows as the single-file parquet drop ``b<i>``."""
    from cola_spark.operators.dedup import prepare_frontier

    prepare_frontier(
        spark.createDataFrame(rows, "url string, priority int, seq long, force boolean")
    ).repartition(1).write.mode("overwrite").parquet(f"{d}/b{i}")


def _drop_stream(spark, d):
    """The drops as a stream; with maxFilesPerTrigger=1 each drop is
    exactly one micro-batch."""
    schema = spark.read.parquet(f"{d}/b0").schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/b*")


def _stream_crawl(spark, crawler, stream, checkpoint):
    q = crawler.attach(stream, checkpoint)
    q.processAllAvailable()
    q.stop()
    return crawl_log(spark, crawler.cfg)


def test_foreach_batch_pending_carryover(spark, tmp_path):
    """Rows admitted but beyond a micro-batch's per-host cap must stay
    schedulable in later micro-batches (they are 'seen' already, so
    dropping them would lose them forever). Each batch is a crawl
    round, so the streamed log is the oracle's: /p/0's synthetic fetch
    always fails, its two retries take a slot in batches 1 and 2, and
    the last two carried-over pages are scheduled in batch 3."""
    from cola_spark.plans.oracle import run_oracle
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    # one host, 6 distinct pages, budget 10 but rate 2/batch; batches
    # 1-3 carry no new URLs for the host — only the carry-over
    urls = [(f"http://only.example/p/{i}", 0, i, False) for i in range(6)]
    d = str(tmp_path / "drops2")
    for i, rows in enumerate([urls, [], [], []]):
        _drop(spark, d, i, rows)
    budgets = spark.createDataFrame(
        [("only.example", 10, 2)], "host string, budget long, rate_per_round long"
    )
    robots = spark.createDataFrame([], "host string, disallow_prefix string")
    cfg = CrawlConfig(workdir=str(tmp_path / "wd2"), n_images=20, decode=False)
    crawler = ForeachBatchCrawler(spark, robots, budgets, gen_images(spark, 20), cfg)
    log = _stream_crawl(spark, crawler, _drop_stream(spark, d), str(tmp_path / "ck2"))

    rows = [(r.round, r.url, r.fetch_ok, r.error_times) for r in log.orderBy("global_rank").collect()]
    # rate caps each batch at 2; carry-over keeps later batches fed
    assert [sum(1 for r in rows if r[0] == b) for b in range(4)] == [2, 2, 2, 2]
    # all six distinct pages scheduled, none lost, none scheduled twice
    # except as a retry of a failed fetch
    first = [r[1] for r in rows if r[3] == 0]
    assert sorted(first) == sorted(u for u, *_ in urls)
    assert all(not r[2] for r in rows if r[1] == urls[0][0])
    oracle = run_oracle(
        [dict(zip(("url", "priority", "seq", "force"), u)) for u in urls], [],
        [{"host": "only.example", "budget": 10, "rate_per_round": 2}],
        pages_per_host=cfg.pages_per_host, max_rounds=4,
    )
    assert rows == [(o["round"], o["url"], o["fetch_ok"], o["error_times"]) for o in oracle["order"]]


def test_foreach_batch_crawler(spark, tmp_path):
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    d = str(tmp_path / "drops")
    seeds = gen_frontier_seeds(spark, 400, n_hosts=8, pages_per_host=20)
    fr = prepare_frontier(seeds.select("url", "priority", "seq", "force"))
    for i in range(2):
        fr.filter(F.pmod(F.col("seq"), F.lit(2)) == i).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/b{i}")

    cfg = CrawlConfig(workdir=str(tmp_path / "wd"), n_images=20, pages_per_host=20, decode=False)
    crawler = ForeachBatchCrawler(
        spark, gen_robots(spark, 8), gen_budgets(spark, 8), gen_images(spark, 20), cfg
    )
    log = _stream_crawl(spark, crawler, _drop_stream(spark, d), str(tmp_path / "ck"))

    rows = log.collect()
    assert rows and {r.round for r in rows} == {0, 1}
    # no URL scheduled twice across micro-batches (cross-batch dedup
    # state), except as a retry of a failed fetch or a force row (a
    # re-crawl the seeds ask for, which bypasses dedup by design)
    deduped = [r.url_hash for r in rows if not r.force]
    assert len(set(deduped)) == len(deduped)
    failed = {r.url_hash for r in rows if not r.fetch_ok}
    assert all(r.url_hash in failed for r in rows if r.error_times > 0)
    # per-host grants net of errors never exceed budget; per-host
    # grants per batch never exceed the rate
    budgets = {r.host: r for r in gen_budgets(spark, 8).collect()}
    for host in {r.host for r in rows}:
        assert sum(r.fetch_ok for r in rows if r.host == host) <= budgets[host].budget
        for b in (0, 1):
            n = sum(1 for r in rows if r.host == host and r.round == b)
            assert n <= budgets[host].rate_per_round


def test_foreach_batch_restart_schedules_each_url_once(spark, tmp_path):
    """A restart is a new crawler over the same workdir and checkpoint.
    URLs re-discovered after it must dedup against what the first
    instance admitted: the crawl state is the manifest's, not the
    instance's."""
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    d = str(tmp_path / "drops")
    urls = [f"http://h.example/p/{i}" for i in range(1, 5)]
    budgets = spark.createDataFrame(
        [("h.example", 100, 10)], "host string, budget long, rate_per_round long"
    )
    robots = spark.createDataFrame([], "host string, disallow_prefix string")
    cfg = CrawlConfig(workdir=str(tmp_path / "wd"), n_images=20, decode=False)
    images = gen_images(spark, 20)

    first = ForeachBatchCrawler(spark, robots, budgets, images, cfg)
    _drop(spark, d, 0, [(u, 0, i, False) for i, u in enumerate(urls)])
    _stream_crawl(spark, first, _drop_stream(spark, d), str(tmp_path / "ck"))
    # the same four URLs, re-discovered after the restart
    _drop(spark, d, 1, [(u, 0, 100 + i, False) for i, u in enumerate(urls)])
    second = ForeachBatchCrawler(spark, robots, budgets, images, cfg)
    log = _stream_crawl(spark, second, _drop_stream(spark, d), str(tmp_path / "ck"))

    assert {r.round for r in log.collect()} == {0, 1}
    rows = log.filter(~F.col("force")).collect()  # retries are force rows
    assert sorted(r.url for r in rows if r.round == 0) == urls
    assert len({r.url_hash for r in rows}) == len(rows)  # each URL once


def test_foreach_batch_fresh_checkpoint_on_used_workdir_fails(spark, tmp_path):
    """A fresh checkpoint numbers its micro-batches from 0 again; over a
    workdir with a committed crawl they would be taken for replays and
    their URLs dropped, so attach refuses it before any batch runs."""
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    d = str(tmp_path / "drops")
    budgets = spark.createDataFrame(
        [("h.example", 100, 10)], "host string, budget long, rate_per_round long"
    )
    robots = spark.createDataFrame([], "host string, disallow_prefix string")
    cfg = CrawlConfig(workdir=str(tmp_path / "wd"), n_images=20, decode=False)
    crawler = ForeachBatchCrawler(spark, robots, budgets, gen_images(spark, 20), cfg)
    _drop(spark, d, 0, [("http://h.example/p/1", 0, 0, False)])
    crawler.process_batch(spark.read.parquet(f"{d}/b0"), 0)
    manifest = os.path.join(cfg.workdir, "manifest.json")
    committed = open(manifest).read()

    _drop(spark, d, 1, [("http://h.example/p/2", 0, 1, False)])
    with pytest.raises(ValueError, match="no offsets"):
        crawler.attach(_drop_stream(spark, d), str(tmp_path / "fresh_ck"))
    assert open(manifest).read() == committed


def test_foreach_batch_replay_is_noop(spark, tmp_path):
    """At-least-once delivery: a replayed micro-batch of a committed
    round leaves the round, its log and the manifest as they were; a
    batch that skips a round fails closed."""
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.plans.scheduler import latest_round
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    seeds = gen_frontier_seeds(spark, 60, n_hosts=4, pages_per_host=10)
    fr = prepare_frontier(seeds.select("url", "priority", "seq", "force"))
    cfg = CrawlConfig(workdir=str(tmp_path / "wd"), n_images=20, pages_per_host=10, decode=False)
    crawler = ForeachBatchCrawler(
        spark, gen_robots(spark, 4), gen_budgets(spark, 4), gen_images(spark, 20), cfg
    )
    manifest = os.path.join(cfg.workdir, "manifest.json")

    crawler.process_batch(fr, 0)
    committed = open(manifest).read()
    log = [tuple(r) for r in crawl_log(spark, cfg).orderBy("global_rank").collect()]
    assert log
    crawler.process_batch(fr, 0)
    assert latest_round(cfg) == 0
    assert open(manifest).read() == committed
    assert [tuple(r) for r in crawl_log(spark, cfg).orderBy("global_rank").collect()] == log
    with pytest.raises(ValueError, match="committed round 0"):
        crawler.process_batch(fr.limit(0), 2)
