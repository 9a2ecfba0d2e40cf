"""End-to-end crawl: exact order match + seen-set equality vs the
pure-Python oracle (BASELINE.md: crawl-order match rate == 1.0), ledger
parity, per-row decode invariants, robots gating."""

import pytest
from pyspark.sql import functions as F

from cola_spark.plans.oracle import run_oracle
from cola_spark.plans.scheduler import CrawlConfig, crawl_log, final_state, run_crawl
from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots

N_SEEDS, N_HOSTS, N_IMAGES, PAGES = 400, 12, 60, 20


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl"))
    seeds = gen_frontier_seeds(spark, N_SEEDS, n_hosts=N_HOSTS, pages_per_host=PAGES)
    robots = gen_robots(spark, N_HOSTS)
    budgets = gen_budgets(spark, N_HOSTS)
    images = gen_images(spark, N_IMAGES)
    cfg = CrawlConfig(workdir=wd, n_images=N_IMAGES, pages_per_host=PAGES, max_rounds=6)
    log = run_crawl(spark, seeds, robots, budgets, images, cfg)
    oracle = run_oracle(
        [r.asDict() for r in seeds.select("url", "priority", "seq", "force").collect()],
        [r.asDict() for r in robots.collect()],
        [r.asDict() for r in budgets.collect()],
        pages_per_host=PAGES, max_rounds=6,
    )
    return log, oracle, cfg


def test_crawl_order_matches_oracle_exactly(crawl):
    log, oracle, _ = crawl
    got = [
        (r.round, r.priority, r.host, r.seq, r.url_canon, r.host_rank, r.global_rank)
        for r in log.orderBy("global_rank").collect()
    ]
    want = [
        (s["round"], s["priority"], s["host"], s["seq"], s["url_canon"],
         s["host_rank"], s["global_rank"])
        for s in oracle["order"]
    ]
    assert len(got) == len(want) and got == want, (
        f"order mismatch: {len(got)} vs {len(want)} rows; "
        f"first diff: {next(((a, b) for a, b in zip(got, want) if a != b), None)}"
    )


def test_seen_set_equality(crawl, spark):
    log, oracle, cfg = crawl
    _, seen, _ = final_state(spark, cfg)
    # map hashes back through the urls that produced them
    from cola_spark.functions.urls import url_hash_col

    want_hashes = {
        r.h
        for r in spark.createDataFrame([(u,) for u in oracle["seen"]], "c string")
        .select(url_hash_col(F.col("c")).alias("h"))
        .collect()
    }
    got_hashes = {r.url_hash for r in seen.collect()}
    assert got_hashes == want_hashes


def test_ledger_parity_and_never_over_budget(crawl, spark):
    log, oracle, cfg = crawl
    _, _, bstate = final_state(spark, cfg)
    got = {r.host: (r.applied, r.finished, r.errored) for r in bstate.collect()}
    for host, lg in oracle["ledger"].items():
        assert got[host] == (lg["applied"], lg["finished"], lg["errored"]), host
        assert got[host][0] <= lg["budget"]


def test_decode_invariants_hold(crawl):
    log, _, _ = crawl
    ok = log.filter(F.col("fetch_ok"))
    assert ok.count() > 0
    bad = ok.filter(~F.col("invariant_ok") | (F.col("psnr") < 40.0)).count()
    assert bad == 0


def test_robots_never_crawled(crawl, spark):
    log, _, _ = crawl
    robots = gen_robots(spark, N_HOSTS)
    r = robots.withColumnRenamed("host", "rhost")
    crawled_blocked = log.join(
        r, (log.host == r.rhost) & log.path.startswith(r.disallow_prefix), "inner"
    ).count()
    assert crawled_blocked == 0


def test_retries_present_and_bounded(crawl):
    log, _, _ = crawl
    retried = log.filter(F.col("error_times") > 0)
    assert log.filter(~F.col("fetch_ok")).count() > 0, "fixture should produce failures"
    assert retried.filter(F.col("error_times") >= 3).count() == 0


def test_fused_fetch_one_wave_and_partition_invariant(spark):
    """The fused fetch stage runs one wave of Python tasks by default
    (defaultParallelism partitions), and its rows do not depend on the
    partition count."""
    from cola_spark.operators.fetch import fetch_decode_verify

    sched = spark.range(200).select(
        F.format_string("http://h%d.example/p/%d", F.col("id") % 7, F.col("id")).alias("url_canon"),
        F.format_string("h%d.example", F.col("id") % 7).alias("host"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.col("id").alias("seq"),
    )
    default = fetch_decode_verify(sched, N_IMAGES, carry_all=True)
    assert default.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    one, seven = (
        fetch_decode_verify(sched, N_IMAGES, parts=p, carry_all=True).orderBy("seq").collect()
        for p in (1, 7)
    )
    assert len(one) == 200 and one == seven
    assert any(r.fmt is not None for r in one), "no row was decoded"


def test_crawl_rounds_oracled_loop_semantics(spark):
    """The unrolled 3-round loop behaves like a crawl: per-host per-
    round cap exact, no page scheduled twice, pending rows from round
    1 surface in later rounds, and round-2+ schedules contain
    discovered children (seq = parent*10+k)."""
    from cola_spark.queries import q_crawl_rounds_oracled

    rows = q_crawl_rounds_oracled(spark, "/root/testdata/sf0.001").collect()
    per = {}
    seen_pages = set()
    for r in rows:
        per.setdefault((r.round, r.host), []).append(r)
        key = (r.host, r.page)
        assert key not in seen_pages, "page scheduled twice"
        seen_pages.add(key)
    assert all(len(v) <= 3 for v in per.values())
    assert {r.round for r in rows} == {1, 2, 3}
    r1_over = {}
    # children have seq >= 10x any seed seq pattern: detect by seq % 10
    # in {1,2} AND seq large; more robustly: round-1 rows are all seeds
    # (page < 6), later rounds contain pages >= 6 (discovered)
    assert all(r.page < 6 for r in rows if r.round == 1)
    assert any(r.page >= 6 for r in rows if r.round > 1)
    # pending carry-over: some round-2 rows are SEED rows (page < 6)
    # that lost the round-1 cut
    assert any(r.page < 6 for r in rows if r.round == 2)
