"""M4: checkpoint/resume + dedup-mode equivalence.

- kill after round r, resume → final crawl log identical to a straight
  run (snapshot-manifest semantics)
- crash inside round r, before its manifest flip (at the flip itself,
  or in the concurrent state-write barrier) → what the round left on
  disk is invisible, and resume reproduces the straight run
- hybrid cuckoo admission ≡ exact admission (filter only prunes)
- pure cuckoo mode: bloom semantics (no false negatives: crawled set ⊆
  exact-mode crawled set; near-equal size at tiny FP rate)
- the foreachBatch driver runs the same round body: seeds as micro-batch
  0 and empty batches after it reproduce the straight run
"""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from cola_spark.plans.scheduler import CrawlConfig, crawl_log, latest_round, run_crawl
from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots
from cola_spark.stateio import LocalStateIO, ObjectStoreStateIO

N, HOSTS, IMGS, PAGES, ROUNDS = 300, 10, 40, 20, 5
HYBRID = {"dedup_mode": "hybrid", "filter_parts": 8, "filter_capacity": 1 << 12}
CRASH_ROUND = 2


@pytest.fixture(scope="module")
def inputs(spark):
    return (
        gen_frontier_seeds(spark, N, n_hosts=HOSTS, pages_per_host=PAGES),
        gen_robots(spark, HOSTS),
        gen_budgets(spark, HOSTS),
        gen_images(spark, IMGS),
    )


def _cfg(wd, **kw):
    kw.setdefault("max_rounds", ROUNDS)
    return CrawlConfig(workdir=wd, n_images=IMGS, pages_per_host=PAGES, decode=False, **kw)


def _rows(log):
    return [
        (r.round, r.priority, r.host, r.seq, r.url_canon, r.host_rank, r.fetch_ok)
        for r in log.orderBy("global_rank").collect()
    ]


def _run(spark, inputs, wd, **kw):
    cfg = _cfg(wd, **kw)
    return _rows(run_crawl(spark, *inputs, cfg)), cfg


@pytest.fixture(scope="module")
def exact_ref(spark, inputs, tmp_path_factory):
    """The straight exact-mode run: (rows, its finished workdir)."""
    rows, cfg = _run(spark, inputs, str(tmp_path_factory.mktemp("exact")))
    return rows, cfg.workdir


@pytest.fixture(scope="module")
def hybrid_ref(spark, inputs, tmp_path_factory):
    """The straight hybrid-mode run: (rows, its finished workdir)."""
    rows, cfg = _run(spark, inputs, str(tmp_path_factory.mktemp("hybrid")), **HYBRID)
    return rows, cfg.workdir


def test_resume_reproduces_full_run(spark, inputs, exact_ref, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("interrupted"))
    cfg = _cfg(wd, max_rounds=2)
    run_crawl(spark, *inputs, cfg)
    assert latest_round(cfg) == 1
    cfg.max_rounds = ROUNDS
    log = run_crawl(spark, *inputs, cfg, resume=True)
    assert _rows(log) == exact_ref[0]


def test_fresh_crawl_in_used_workdir_starts_empty(spark, inputs, exact_ref):
    """resume=False over a finished crawl's workdir must not dedup its
    seeds against the previous crawl's seen set."""
    rows, wd = exact_ref
    assert _run(spark, inputs, wd)[0] == rows


class InjectedCrash(RuntimeError):
    pass


def _crash_at_flip(io_cls):
    """An ``io_cls`` store whose write of round CRASH_ROUND's manifest
    raises: every output of the round is on disk, its commit is not."""

    class CrashAtFlip(io_cls):
        def write_text_atomic(self, path, data):
            if os.path.basename(path) == "manifest.json" and json.loads(data)["round"] == CRASH_ROUND:
                raise InjectedCrash(path)
            super().write_text_atomic(path, data)

    return CrashAtFlip()


def _crash_in_barrier(monkeypatch):
    """Fail round CRASH_ROUND's budget write; the other concurrent state
    writes (seen and filter deltas, pending) still land."""
    parquet = DataFrameWriter.parquet
    target = os.path.join("state", f"round={CRASH_ROUND}", "budget")

    def failing(self, path, *args, **kwargs):
        if path.endswith(target):
            raise InjectedCrash(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)


@pytest.mark.parametrize("crash", ["flip", "barrier"])
@pytest.mark.parametrize(
    "mode,io_cls",
    [("exact", LocalStateIO), ("hybrid", LocalStateIO), ("exact", ObjectStoreStateIO)],
    ids=["exact-local", "hybrid-local", "exact-objectstore"],
)
def test_resume_after_crash_before_flip(
    spark, inputs, exact_ref, hybrid_ref, tmp_path, monkeypatch, named_rdds, crash, mode, io_cls
):
    """A crash after round 2's seen/filter deltas landed but before its
    manifest flip leaves orphan deltas and no persisted frame; resume
    must not dedup against the deltas and must reproduce the straight
    run row for row."""
    kw = HYBRID if mode == "hybrid" else {}
    cfg = _cfg(str(tmp_path / "wd"), io=io_cls(), **kw)
    if crash == "flip":
        cfg.io = _crash_at_flip(io_cls)
    else:
        _crash_in_barrier(monkeypatch)
    before = named_rdds()
    with pytest.raises(InjectedCrash):
        run_crawl(spark, *inputs, cfg)
    assert named_rdds() - before == set(), "the crashed round left persisted frames"
    monkeypatch.undo()
    cfg.io = io_cls()
    assert latest_round(cfg) == CRASH_ROUND - 1
    assert os.path.isdir(os.path.join(cfg.workdir, "seen", f"delta={CRASH_ROUND}"))
    log = run_crawl(spark, *inputs, cfg, resume=True)
    assert _rows(log) == (hybrid_ref if mode == "hybrid" else exact_ref)[0]


def test_natural_stop_commits_final_admissions(spark, tmp_path_factory):
    """A crawl that exhausts its frontier before max_rounds must (a)
    have added the stop round's admissions to the seen set (oracle adds
    to seen before its stop check), (b) leave a manifest at a valid
    round >= 0 with the stopped flag, and (c) resume as a no-op."""
    import json

    from cola_spark.functions.urls import url_hash_col
    from cola_spark.plans.oracle import run_oracle
    from cola_spark.plans.scheduler import final_state, latest_round

    seeds = gen_frontier_seeds(spark, 40, n_hosts=4, pages_per_host=6)
    robots, budgets = gen_robots(spark, 4), gen_budgets(spark, 4)
    images = gen_images(spark, IMGS)
    wd = str(tmp_path_factory.mktemp("natstop"))
    cfg = CrawlConfig(workdir=wd, n_images=IMGS, pages_per_host=6, max_rounds=40, decode=False)
    log = run_crawl(spark, seeds, robots, budgets, images, cfg)
    with open(f"{wd}/manifest.json") as f:
        m = json.load(f)
    assert m["round"] >= 0 and m["stats"]["stopped"] is True
    assert m["round"] < 39, "fixture must stop naturally, not at max_rounds"
    oracle = run_oracle(
        [r.asDict() for r in seeds.select("url", "priority", "seq", "force").collect()],
        [r.asDict() for r in robots.collect()],
        [r.asDict() for r in budgets.collect()],
        pages_per_host=6, max_rounds=40,
    )
    want = {
        r.h
        for r in spark.createDataFrame([(u,) for u in oracle["seen"]], "c string")
        .select(url_hash_col(F.col("c")).alias("h"))
        .collect()
    }
    got = {r.url_hash for r in final_state(spark, cfg)[1].collect()}
    assert got == want, "stop round's admissions missing from seen"
    # resume after natural stop: no new rounds, identical log
    before = [(r.round, r.seq) for r in log.orderBy("global_rank").collect()]
    log2 = run_crawl(spark, seeds, robots, budgets, images, cfg, resume=True)
    assert [(r.round, r.seq) for r in log2.orderBy("global_rank").collect()] == before
    assert latest_round(cfg) == m["round"]


def test_stop_at_round_zero_is_resumable(spark, tmp_path_factory):
    """Zero-cap budgets stop the crawl in round 0; the manifest must
    not point at round -1 and resume must not raise."""
    seeds = gen_frontier_seeds(spark, 50, n_hosts=4, pages_per_host=10)
    robots = gen_robots(spark, 4)
    budgets = gen_budgets(spark, 4).withColumn("budget", F.lit(0).cast("long"))
    images = gen_images(spark, IMGS)
    wd = str(tmp_path_factory.mktemp("round0"))
    cfg = CrawlConfig(workdir=wd, n_images=IMGS, pages_per_host=10, max_rounds=5, decode=False)
    from cola_spark.plans.scheduler import latest_round

    log = run_crawl(spark, seeds, robots, budgets, images, cfg)
    assert log.count() == 0
    assert latest_round(cfg) == 0
    log2 = run_crawl(spark, seeds, robots, budgets, images, cfg, resume=True)
    assert log2.count() == 0


def test_hybrid_mode_identical_to_exact(exact_ref, hybrid_ref):
    assert hybrid_ref[0] == exact_ref[0]


def test_state_readers_start_no_job(spark, inputs, hybrid_ref, tmp_path):
    """Every state read carries its schema, so building a round's inputs
    from a committed hybrid workdir runs no Spark job; a fresh crawl's
    empty frames have no partitions, so they run no stage either."""
    from cola_spark.plans.scheduler import (
        _derive_candidates, _manifest, _read_filters, _read_seen, _read_state, _start_state,
    )

    cfg = _cfg(hybrid_ref[1], **HYBRID)
    m = _manifest(cfg)
    assert m["round"] >= 1 and m["seen"] and m["filters"]
    sc, group = spark.sparkContext, "readers-start-no-job"
    sc.setJobGroup(group, group)
    try:
        _read_state(spark, cfg, m["round"], {})
        _derive_candidates(spark, cfg, m["round"])
        _read_seen(spark, cfg, m["seen"])
        _read_filters(spark, cfg, m["filters"])
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    fresh = _cfg(str(tmp_path / "fresh"), **HYBRID)
    empty = [
        _read_seen(spark, fresh, []),
        _read_filters(spark, fresh, []),
        _start_state(spark, fresh, inputs[2], None).pending,
        crawl_log(spark, fresh),
    ]
    assert [f.rdd.getNumPartitions() for f in empty] == [0, 0, 0, 0]


def test_input_types_do_not_change_the_log(spark, inputs, exact_ref, tmp_path):
    """The state is read back under fixed schemas, so seeds carrying
    priority as long and budgets carrying int columns must crawl exactly
    like the default-typed inputs: the same rows (those of the straight
    run's first two rounds) under the same log schema."""
    seeds, robots, budgets, images = inputs
    seeds = seeds.withColumn("priority", F.col("priority").cast("long"))
    budgets = budgets.select(
        "host", *[F.col(c).cast("int").alias(c) for c in ("budget", "rate_per_round")]
    )
    cfg = _cfg(str(tmp_path / "typed"), max_rounds=2)
    log = run_crawl(spark, seeds, robots, budgets, images, cfg)
    assert _rows(log) == [r for r in exact_ref[0] if r[0] < 2]
    assert log.schema == crawl_log(spark, _cfg(exact_ref[1])).schema


def test_cuckoo_mode_bloom_semantics(spark, inputs, exact_ref, tmp_path_factory):
    cuckoo, _ = _run(
        spark, inputs, str(tmp_path_factory.mktemp("cuckoo")),
        dedup_mode="cuckoo", filter_parts=8, filter_capacity=1 << 12,
    )
    # never re-admits a seen URL → crawled set can only shrink vs exact
    exact_urls = {t[4] for t in exact_ref[0]}
    cuckoo_urls = {t[4] for t in cuckoo}
    assert cuckoo_urls <= exact_urls
    # at 16-bit fingerprints the FP rate is ~1e-4: expect (near-)equality
    assert len(cuckoo_urls) >= 0.99 * len(exact_urls)


def test_fused_fetch_mode_same_schedule_and_payload(spark, inputs, tmp_path_factory):
    """fetch_mode=fused must reproduce the join-mode crawl exactly —
    scheduling dimensions AND the payload linkage (both derive image_id
    via pmod(xxhash64(url_canon), n_images), so fmt/psnr agree too)."""
    seeds, robots, budgets, images = inputs
    logs = {}
    for mode in ("join", "fused"):
        cfg = CrawlConfig(
            workdir=str(tmp_path_factory.mktemp(f"fm_{mode}")), n_images=IMGS,
            pages_per_host=PAGES, max_rounds=4, decode=True, fetch_mode=mode,
        )
        log = run_crawl(spark, seeds, robots, budgets, images, cfg)
        logs[mode] = [
            (r.round, r.priority, r.host, r.seq, r.url_canon, r.host_rank,
             r.fetch_ok, r.image_id, r.fmt, r.psnr)
            for r in log.orderBy("global_rank").collect()
        ]
        ok = log.filter(F.col("fetch_ok"))
        assert ok.filter(~F.col("invariant_ok") | (F.col("psnr") < 40.0)).count() == 0
    assert logs["fused"] == logs["join"]


def test_resume_reproduces_full_run_on_objectstore(spark, inputs, exact_ref, tmp_path_factory):
    """The resume contract under object-store StateIO semantics (no-op
    makedirs, prefix listing): identical final log to the POSIX-backend
    straight run."""
    cfg = _cfg(str(tmp_path_factory.mktemp("os_interrupted")), max_rounds=2,
               io=ObjectStoreStateIO())
    run_crawl(spark, *inputs, cfg)
    assert latest_round(cfg) == 1
    cfg.max_rounds = ROUNDS
    log = run_crawl(spark, *inputs, cfg, resume=True)
    assert _rows(log) == exact_ref[0]


def test_foreach_batch_reproduces_run_crawl(spark, inputs, exact_ref, tmp_path):
    """One round body, two drivers: the seeds as micro-batch 0, then
    empty micro-batches, give run_crawl's log row for row."""
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.streaming.foreach_batch import ForeachBatchCrawler

    seeds, robots, budgets, images = inputs
    cfg = _cfg(str(tmp_path / "fb"))
    crawler = ForeachBatchCrawler(spark, robots, budgets, images, cfg)
    frontier = prepare_frontier(seeds.select("url", "priority", "seq", "force"))
    crawler.process_batch(frontier, 0)
    for b in range(1, ROUNDS):
        crawler.process_batch(frontier.limit(0), b)
    assert _rows(crawl_log(spark, cfg)) == exact_ref[0]
