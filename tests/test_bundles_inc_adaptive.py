"""Bundle scheduling, incremental re-crawl, adaptive speed."""

from pyspark.sql import functions as F

from cola_spark.operators.budget import budget_caps, init_budget_state, update_budget_state_outcomes
from cola_spark.operators.bundles import bundle_reduce, schedule_bundles
from cola_spark.operators.inc import INC_SEQ_OFFSET, inc_requeue


def _frontier(spark, rows):
    # (host, bundle_label, priority, seq)
    return spark.createDataFrame(
        [(h, b, p, s, hash((h, s)) % (2**40), f"http://{h}/p/{s}") for h, b, p, s in rows],
        "host string, bundle_label string, priority int, seq long, url_hash long, url_canon string",
    )


def test_bundle_identity_and_reduce(spark):
    fr = _frontier(spark, [("h1", "userA", 2, 10), ("h1", "userA", 0, 12), ("h1", "userB", 1, 11)])
    got = {r.bundle_label: (r.priority, r.seq, r.n_urls) for r in bundle_reduce(fr).collect()}
    assert got == {"userA": (0, 10, 2), "userB": (1, 11, 1)}


def test_bundle_cut_grants_whole_bundles(spark):
    fr = _frontier(
        spark,
        [("h1", "A", 0, 1), ("h1", "A", 2, 9), ("h1", "B", 0, 2), ("h1", "B", 1, 3),
         ("h1", "C", 1, 4)],
    )
    caps = spark.createDataFrame([("h1", 2)], "host string, cap long")
    out = schedule_bundles(fr, caps)
    by_bundle = {r.bundle_label for r in out.collect()}
    assert by_bundle == {"A", "B"}  # 2 bundles granted, C deferred
    assert out.count() == 4  # ALL member urls of granted bundles
    ranks = {r.bundle_label: r.bundle_rank for r in out.collect()}
    assert ranks == {"A": 1, "B": 2}


def test_inc_requeue_force_and_disjoint_seq(spark):
    log = spark.createDataFrame(
        [("http://h/p/1", "http://h/p/1", 1, "h", "/p/1", 0, 5, False, 0, True),
         ("http://h/p/2", "http://h/p/2", 2, "h", "/p/2", 1, 6, False, 1, False)],
        "url string, url_canon string, url_hash long, host string, path string,"
        " priority int, seq long, force boolean, error_times int, fetch_ok boolean",
    )
    out = inc_requeue(log, generation=2).collect()
    assert len(out) == 1  # only fetch_ok rows
    r = out[0]
    assert r.force and r.error_times == 0 and r.seq == 5 + 2 * INC_SEQ_OFFSET


def test_adaptive_rate_backoff_and_recovery(spark):
    """Windowed adaptive speed (SURVEY §2 row 22): the backoff is
    ceil(mean(errors)) over the last ERR_WINDOW=3 rounds — one bad
    round's effect fades over the window instead of snapping."""
    budgets = spark.createDataFrame([("h1", 100, 10)], "host string, budget long, rate_per_round long")
    st = init_budget_state(budgets)
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=True).collect()}
    assert caps["h1"] == 10  # no errors yet
    def c(granted, finished, errored):  # one round's outcomes for h1
        return spark.createDataFrame(
            [("h1", granted, finished, errored)],
            "host string, n_granted long, n_finished long, n_errored long",
        )

    # a bad round: 7 errors, hist [7] → next-round rate backs off to 3
    st = update_budget_state_outcomes(st, c(10, 3, 7))
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=True).collect()}
    assert caps["h1"] == 3
    # non-adaptive ignores the backoff
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=False).collect()}
    assert caps["h1"] == 10
    # a clean round: hist [0,7] → backoff ceil(7/2)=4 → gradual recovery
    st = update_budget_state_outcomes(st, c(3, 3, 0))
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=True).collect()}
    assert caps["h1"] == 6
    # two more clean rounds: the bad round ages out → full recovery
    st = update_budget_state_outcomes(st, c(6, 6, 0))
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=True).collect()}
    assert caps["h1"] == 7  # hist [0,0,7] → ceil(7/3)=3
    st = update_budget_state_outcomes(st, c(7, 7, 0))
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=True).collect()}
    assert caps["h1"] == 10  # hist [0,0,0]
    # floor at 1: SUSTAINED catastrophe never kills the host entirely
    for _ in range(3):
        st = update_budget_state_outcomes(st, c(10, 0, 10))
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=True).collect()}
    assert caps["h1"] == 1


def test_adaptive_window_no_overthrottle_on_one_noisy_round(spark):
    """VERDICT r2 #7 done-criterion: a single noisy round among clean
    history must NOT throttle the host to the floor — last-round-only
    backoff would cut rate 10 → 1 after a 9-error spike; the 3-round
    window keeps it at 10-ceil(9/3) = 7."""
    budgets = spark.createDataFrame([("h1", 1000, 10)], "host string, budget long, rate_per_round long")
    st = init_budget_state(budgets)
    # two clean rounds of history, then one 9-error spike
    for errs in (0, 0, 9):
        st = update_budget_state_outcomes(st, spark.createDataFrame(
            [("h1", 10, 10 - errs, errs)],
            "host string, n_granted long, n_finished long, n_errored long",
        ))
    caps = {r.host: r.cap for r in budget_caps(st, adaptive=True).collect()}
    assert caps["h1"] == 7  # hist [9,0,0] → ceil(9/3)=3; NOT 1


def test_global_cap_bounds_every_round(spark, tmp_path):
    """speed.max analogue: no round schedules more than global_cap rows
    cluster-wide, grants are the (priority, seq)-first ones, and the
    crawl matches the oracle under the same cap."""
    from cola_spark.plans.oracle import run_oracle
    from cola_spark.plans.scheduler import CrawlConfig, run_crawl
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots

    CAP = 25
    seeds = gen_frontier_seeds(spark, 300, n_hosts=8, pages_per_host=20)
    robots, budgets = gen_robots(spark, 8), gen_budgets(spark, 8)
    cfg = CrawlConfig(
        workdir=str(tmp_path / "gc"), n_images=30, pages_per_host=20,
        max_rounds=5, decode=False, global_cap=CAP,
    )
    log = run_crawl(spark, seeds, robots, budgets, gen_images(spark, 30), cfg)
    per_round = {r.round: r.n for r in log.groupBy("round").agg(F.count("*").alias("n")).collect()}
    assert per_round and all(n <= CAP for n in per_round.values())
    oracle = run_oracle(
        [r.asDict() for r in seeds.select("url", "priority", "seq", "force").collect()],
        [r.asDict() for r in robots.collect()],
        [r.asDict() for r in budgets.collect()],
        pages_per_host=20, max_rounds=5, global_cap=CAP,
    )
    got = [(r.round, r.priority, r.host, r.seq) for r in log.orderBy("global_rank").collect()]
    want = [(s["round"], s["priority"], s["host"], s["seq"]) for s in oracle["order"]]
    assert got == want


def test_adaptive_crawl_matches_oracle(spark, tmp_path):
    from cola_spark.plans.oracle import run_oracle
    from cola_spark.plans.scheduler import CrawlConfig, run_crawl
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots

    seeds = gen_frontier_seeds(spark, 300, n_hosts=8, pages_per_host=20)
    robots, budgets = gen_robots(spark, 8), gen_budgets(spark, 8)
    cfg = CrawlConfig(
        workdir=str(tmp_path / "ad"), n_images=30, pages_per_host=20,
        max_rounds=5, decode=False, adaptive=True,
    )
    log = run_crawl(spark, seeds, robots, budgets, gen_images(spark, 30), cfg)
    oracle = run_oracle(
        [r.asDict() for r in seeds.select("url", "priority", "seq", "force").collect()],
        [r.asDict() for r in robots.collect()],
        [r.asDict() for r in budgets.collect()],
        pages_per_host=20, max_rounds=5, adaptive=True,
    )
    got = [(r.round, r.priority, r.host, r.seq) for r in log.orderBy("global_rank").collect()]
    want = [(s["round"], s["priority"], s["host"], s["seq"]) for s in oracle["order"]]
    assert got == want


def test_bundle_generator_grows_member_set_across_rounds(spark):
    """cola Bundle.urls()/current_urls: the generator appends follow-up
    URLs to the live bundle; across rounds (with dedup) the member set
    grows monotonically and deterministically."""
    from cola_spark.operators.bundles import expand_bundles

    fr = spark.createDataFrame(
        [("h1", "userA", 1, 10, "http://h1/p/10", False),
         ("h1", "userA", 0, 12, "http://h1/p/12", False),
         ("h2", "userB", 2, 11, "http://h2/p/11", False)],
        "host string, bundle_label string, priority int, seq long, url string, force boolean",
    )
    r1 = expand_bundles(fr)
    urls1 = {r.url for r in r1.collect()}
    # round 1: originals + pages (userA: 2 members -> 2 pages; userB: 1 page)
    assert {"http://h1/p/10", "http://h1/p/12", "http://h2/p/11"} <= urls1
    assert "http://h1/b/userA/page/1" in urls1 and "http://h1/b/userA/page/2" in urls1
    assert "http://h2/b/userB/page/1" in urls1
    assert len(urls1) == 6

    # round 2: feed the expanded set back in (as the scheduler would,
    # post-dedup) -> userA now has 4 members -> pages 1..3; new URLs
    # appear, old ones persist
    r2 = expand_bundles(r1.drop("generated"))
    urls2 = {r.url for r in r2.collect()}
    assert urls1 <= urls2
    assert "http://h1/b/userA/page/3" in urls2  # grew
    # deterministic across evaluations
    assert urls2 == {r.url for r in expand_bundles(r1.drop("generated")).collect()}


def test_bundle_generated_seqs_globally_unique(spark):
    """Generated seqs must be unique across the WHOLE frontier, not just
    within one bundle: under the old min_seq*10+page scheme a bundle
    with min seq 5 minted 51, colliding with another bundle's member
    seq 51 and corrupting the scheduler's seq anti-joins. The gmax-based
    namespace keeps every generated seq above every member seq."""
    from cola_spark.operators.bundles import expand_bundles

    fr = spark.createDataFrame(
        [("h1", "A", 1, 5, "http://h1/p/5", False),
         ("h2", "B", 1, 51, "http://h2/p/51", False),
         ("h2", "B", 1, 52, "http://h2/p/52", False)],
        "host string, bundle_label string, priority int, seq long, url string, force boolean",
    )
    rows = expand_bundles(fr).collect()
    seqs = [r.seq for r in rows]
    assert len(seqs) == len(set(seqs)), f"seq collision: {sorted(seqs)}"
    member_max = 52
    assert all(r.seq > member_max for r in rows if r.generated)
    # FIFO-by-discovery: every generated seq sorts after every member seq
    assert min(r.seq for r in rows if r.generated) > max(
        r.seq for r in rows if not r.generated
    )


def test_crawl_snapshot_diff_statuses(spark):
    """Every page's status replayed sequentially from the recipe."""
    from cola_spark.queries import q_crawl_snapshot_diff

    rows = q_crawl_snapshot_diff(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        d = r.doc_id
        in_a, in_b = d % 10 != 0, d % 7 != 0
        assert (r.in_prev, r.in_curr) == (in_a, in_b)
        if not in_a:
            exp = "added"
        elif not in_b:
            exp = "removed"
        elif d % 5 == 0:
            exp = "changed"
        else:
            exp = "same"
        assert r.status == exp
    # the universe covers all four statuses
    assert {r.status for r in rows} == {"added", "removed", "changed", "same"}
