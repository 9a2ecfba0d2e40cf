"""The crawl driver loop — cola's Job/Container/Executor re-expressed
as deterministic batch rounds over snapshot tables.

Reference lifecycle (cola/job/executor.py ~L60-260, cola/job/container.py):
  loop: units = mq.get(batch); granted = budget.apply(n);
        fetch; parse -> new units; mq.put(new) [dedup inside];
        counter.inc; budget.finish/error; requeue on error
  until ALLFINISHED or frontier empty.

Here one loop iteration is one *round* (``crawl_round``): every stage
is a DataFrame transformation. One round body, two drivers:
``run_crawl`` loops it over seeds and the children/retries of the
previous round until the frontier runs dry, and the foreachBatch
crawler (streaming/foreach_batch.py) runs it once per micro-batch,
with ``round = batch_id``. Per-round driver work is five write actions
and one observation read — the analogue of cola's two RPCs:

  1. log/round=r      — the fused big job: admission (dedup) → robots →
                        salted priority/budget cut → fetch → decode,
                        with counters collected via df.observe (no
                        separate count() jobs)
  2. seen/delta=r     — append-only new-hash delta (never rewrites the
                        accumulated seen set — at the 10^10-URL design
                        point a per-round rewrite would be the bottleneck),
                        written with the admitted frame's partitions,
                        coalesced to at most one wave of tasks, not
                        repartitioned to seen_parts
  3. filters/delta=r  — changed cuckoo-filter blobs only (latest blob
                        per part wins on read)
  4. state/round=r/pending — unscheduled frontier carry-over
  5. state/round=r/budget  — the (broadcast-size) ledger

Next-round candidates (children + retries) are *derived from the
materialized log*, not separately persisted — one fewer write per
round and resume-safe for free.

Commit protocol: ``manifest.json`` is the single commit point
(Iceberg-snapshot semantics). It names the last committed round and
the live ``seen`` and ``filters`` directories, and readers read only
those and rounds ``0..round`` — never a listing. What a crashed round
left on disk stays invisible until the resumed round overwrites it.
Compaction (maintenance.py) commits through the same manifest. A
round overwrites its outputs before it flips, so a resume and an
at-least-once micro-batch replay are safe for the same reason.

Determinism contract (the BASELINE order-match criterion): the global
crawl order is the total order (round, priority, host, seq). Nothing
depends on partition iteration order or parallelism, so the same seeds
+ budgets yield identical crawl logs at local[8] and local[32] — and on
a 1000-executor cluster.

dedup_mode:
  "exact"  — anti-join against the exact seen table (correctness oracle)
  "hybrid" — partitioned cuckoo filter prunes; suspects verified
             exactly: IDENTICAL semantics to exact, scale-friendly
  "cuckoo" — pure filter, bloom semantics (FPs may drop never-seen
             URLs); no exact seen table at all
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cola_spark.stateio import DEFAULT_IO, StateIO

from cola_spark.operators.budget import budget_caps, init_budget_state
from cola_spark.operators.dedup import (
    FRONTIER_COLS,
    admit,
    admit_filtered,
    prepare_frontier,
)
from cola_spark.operators.fetch import discover_links, synthetic_fetch
from cola_spark.operators.priority import apply_global_cap, schedule_cut
from cola_spark.operators.retry import split_retry
from cola_spark.operators.robots import robots_gate
from cola_spark.session import pin, release

FRONTIER_SCHEMA = (
    "url string, url_canon string, url_hash long, host string, path string,"
    " priority int, seq long, force boolean, error_times int"
)


@dataclass
class CrawlConfig:
    workdir: str
    n_images: int = 200
    pages_per_host: int = 50
    max_rounds: int = 30
    max_retries: int = 3
    salt_buckets: int = 16
    decode: bool = True
    fetch_mode: str = "join"  # join (images-table linkage) | fused (opener-in-worker)
    adaptive: bool = False  # cola adaptive speed: rate backs off on errors
    global_cap: int | None = None  # cola speed.max: cluster-wide pages/round
    broadcast_caps: bool = True  # False for web-scale (10^7+) host universes
    # (governs BOTH per-host side tables: the budget-caps join and the
    # robots-rules join — broadcast builds are serial per-round work;
    # the False path carries an explicit shuffle_hash hint so the
    # planner's size estimates can't silently pick a broadcast anyway)
    dedup_mode: str = "exact"  # exact | hybrid | cuckoo
    filter_kind: str = "cuckoo"  # cuckoo | bloom (per-partition blob class)
    filter_parts: int = 32
    filter_capacity: int = 1 << 18
    seen_parts: int = 32
    # driver-side state IO seam (stateio.py): swap for an HDFS/S3/
    # Iceberg-backed implementation on a real cluster
    io: StateIO = field(default_factory=lambda: DEFAULT_IO)


def _p(cfg: CrawlConfig, *parts: str) -> str:
    return os.path.join(cfg.workdir, *parts)


def _manifest(cfg: CrawlConfig) -> dict | None:
    return cfg.io.read_json(_p(cfg, "manifest.json"))


def latest_round(cfg: CrawlConfig) -> int | None:
    m = _manifest(cfg)
    return None if m is None else m["round"]


def _commit_manifest(cfg: CrawlConfig, rnd: int, stats: dict, live: dict) -> None:
    """Iceberg-snapshot-style commit: round r state (and the ``live``
    seen/filters dirs) is only visible once the manifest points at it
    (atomic write through the IO seam)."""
    mf = _p(cfg, "manifest.json")
    prev = cfg.io.read_json(mf)
    hist = (prev or {}).get("history", [])[:rnd]  # a fresh crawl starts empty
    cfg.io.write_json_atomic(
        mf, {"round": rnd, **live, "stats": stats, "history": hist + [stats]}
    )


def _read_seen(spark: SparkSession, cfg: CrawlConfig, live: list[str]) -> DataFrame:
    """The seen set over the live seen directories a manifest names."""
    if not live:
        return spark.createDataFrame([], "url_hash long")
    return spark.read.parquet(*[_p(cfg, "seen", d) for d in live]).select("url_hash")


def _read_filters(
    spark: SparkSession, cfg: CrawlConfig, live: list[str], with_delta: bool = False
) -> DataFrame:
    """Latest blob per part over the live filter directories."""
    if not live:
        cols = "part int, blob binary" + (", delta int" if with_delta else "")
        return spark.createDataFrame([], cols)
    from pyspark.sql import Window

    df = spark.read.parquet(*[_p(cfg, "filters", d) for d in live])
    w = Window.partitionBy("part").orderBy(F.desc("delta"))
    out_cols = ["part", "blob"] + (["delta"] if with_delta else [])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*out_cols)
    )


def _derive_candidates(spark: SparkSession, cfg: CrawlConfig, prev_round: int) -> DataFrame:
    """Children + retries of round r-1, recomputed from the materialized
    log (cheap, deterministic, resume-safe)."""
    log = spark.read.parquet(_p(cfg, "log", f"round={prev_round}"))
    requeue, _dropped = split_retry(
        log.filter(~F.col("fetch_ok")).select(*FRONTIER_COLS), cfg.max_retries
    )
    children = prepare_frontier(
        discover_links(log.filter(F.col("fetch_ok")), cfg.pages_per_host)
    )
    return children.unionByName(requeue)


@dataclass
class RoundState:
    """What a round reads of the last committed round: the carried-over
    frontier, the budget ledger and the live seen/filters dirs."""

    pending: DataFrame
    budget: DataFrame
    live: dict


def _read_state(spark: SparkSession, cfg: CrawlConfig, rnd: int, live: dict) -> RoundState:
    return RoundState(
        spark.read.parquet(_p(cfg, "state", f"round={rnd}", "pending")),
        spark.read.parquet(_p(cfg, "state", f"round={rnd}", "budget")),
        live,
    )


def _start_state(
    spark: SparkSession, cfg: CrawlConfig, budgets: DataFrame, m: dict | None
) -> RoundState:
    """The state the round after manifest ``m`` starts from; a fresh
    crawl's (empty frontier, unspent ledger) when ``m`` is None. Both
    drivers call it before any round output is written, so it is where
    the config is checked."""
    if cfg.dedup_mode not in ("exact", "hybrid", "cuckoo"):
        raise ValueError(f"dedup_mode must be exact|hybrid|cuckoo, got {cfg.dedup_mode!r}")
    if m is None:
        cfg.io.makedirs(cfg.workdir)
        return RoundState(
            spark.createDataFrame([], FRONTIER_SCHEMA),
            init_budget_state(budgets),
            {"seen": [], "filters": []},
        )
    return _read_state(spark, cfg, m["round"], {k: m[k] for k in ("seen", "filters")})


def crawl_round(
    spark: SparkSession, cfg: CrawlConfig, rnd: int, candidates: DataFrame,
    state: RoundState, robots: DataFrame, images: DataFrame,
) -> RoundState | None:
    """Round ``rnd`` over ``candidates``: admission → robots → cut →
    fetch → log write → concurrent state barrier → manifest flip.

    Every output is written in overwrite mode under the round's own
    name and the flip is the round's commit, so re-running a round
    whose flip did not happen (a resume, a replayed micro-batch) is
    safe. Returns the state round ``rnd + 1`` starts from, or None when
    the round scheduled nothing (the crawl's natural stop)."""
    t0 = time.monotonic()
    try:
        # 1. admission: the dedup gate on everything entering the frontier
        seen = _read_seen(spark, cfg, state.live["seen"])
        if cfg.dedup_mode == "exact":
            admitted, _ns = admit(candidates, seen)
            new_filters = None
        else:
            if cfg.filter_kind == "bloom":
                from cola_spark.filters.bloom import BloomFilter as _fcls
            elif cfg.filter_kind == "cuckoo":
                _fcls = None  # admit_filtered defaults to CuckooFilter
            else:
                raise ValueError(
                    f"filter_kind must be cuckoo|bloom, got {cfg.filter_kind!r}"
                )
            admitted, _ns, new_filters = admit_filtered(
                candidates, seen, _read_filters(spark, cfg, state.live["filters"]),
                n_parts=cfg.filter_parts, capacity_per_part=cfg.filter_capacity,
                mode=cfg.dedup_mode, filter_cls=_fcls,
            )
        admitted = pin(admitted)
        # identical to the admit()-returned new-hash set, but derived
        # from the persisted admitted so step 4 doesn't recompute admission
        new_seen = admitted.filter(~F.col("force")).select("url_hash")

        # 2-3. robots gate + this round's cut + fetch, fused into one job
        pending_next = state.pending.unionByName(
            robots_gate(admitted, robots, broadcast=cfg.broadcast_caps)
        )
        caps = budget_caps(state.budget, cfg.adaptive)
        scheduled = apply_global_cap(
            schedule_cut(
                pending_next, caps,
                cfg.salt_buckets, broadcast_caps=cfg.broadcast_caps,
            ),
            cfg.global_cap,
        )
        if cfg.decode and cfg.fetch_mode == "fused":
            from cola_spark.operators.fetch import fetch_decode_verify, fused_parts

            # exact upper bound on this round's scheduled rows: the
            # ledger's cap sum (tiny agg on the broadcast-size budget
            # state), further clamped by the global cap — sizes the
            # Python stage instead of a fixed partition constant
            bound = caps.agg(F.sum("cap")).first()[0] or 0
            if cfg.global_cap is not None:
                bound = min(int(bound), cfg.global_cap)
            fetched = fetch_decode_verify(
                scheduled, cfg.n_images,
                parts=fused_parts(int(bound), spark.sparkContext.defaultParallelism),
                carry_all=True,
            )
        else:
            fetched = synthetic_fetch(scheduled, images, cfg.n_images, decode=cfg.decode)
        obs = Observation(f"round_{rnd}")
        fetched = fetched.observe(
            obs,
            F.count(F.lit(1)).alias("n_scheduled"),
            F.sum(F.col("fetch_ok").cast("long")).alias("n_ok"),
        )
        log_cols = ["round", *FRONTIER_COLS, "host_rank", "image_id", "fetch_ok"]
        if cfg.decode:
            log_cols += ["fmt", "psnr", "invariant_ok"]
        t_log0 = time.monotonic()
        fetched.withColumn("round", F.lit(rnd)).select(*log_cols).write.mode(
            "overwrite"
        ).parquet(_p(cfg, "log", f"round={rnd}"))
        t_log = time.monotonic() - t_log0
        n_scheduled = obs.get["n_scheduled"]
        stopped = n_scheduled == 0

        # 4+5. persist dedup deltas + carry-over frontier + ledger.
        # The four state writes are independent given the materialized
        # log, so they run CONCURRENTLY (separate driver threads →
        # separate Spark jobs): the per-round commit barrier costs
        # max(write) instead of sum(write) — this is what made
        # crawl_5rounds anti-scale 8→32 at sandbox SF. Seen deltas are
        # written ALSO on natural stop: the oracle adds admissions to
        # seen during admission, *before* its stop check — a stop round
        # can admit (robots-blocked / over-cap) rows that must still be
        # remembered, or a resume would re-admit them.
        from concurrent.futures import ThreadPoolExecutor

        log_r = spark.read.parquet(_p(cfg, "log", f"round={rnd}"))
        from cola_spark.operators.budget import round_outcomes, update_budget_state_outcomes

        bstate = update_budget_state_outcomes(state.budget, round_outcomes(log_r))
        writes = []
        if cfg.dedup_mode != "cuckoo":
            # no shuffle: every reader of seen shuffles it anyway, and
            # compaction restores seen_parts; the coalesce caps the write
            # at one wave (with AQE off admitted has every shuffle partition)
            writes.append(
                lambda: new_seen.coalesce(spark.sparkContext.defaultParallelism)
                .write.mode("overwrite")
                .parquet(_p(cfg, "seen", f"delta={rnd}"))
            )
        if new_filters is not None:
            writes.append(
                lambda: new_filters.withColumn("delta", F.lit(rnd))
                .write.mode("overwrite")
                .parquet(_p(cfg, "filters", f"delta={rnd}"))
            )
        writes.append(
            lambda: pending_next.join(log_r.select("seq"), "seq", "left_anti")
            .write.mode("overwrite")
            .parquet(_p(cfg, "state", f"round={rnd}", "pending"))
        )
        writes.append(
            lambda: bstate.write.mode("overwrite").parquet(
                _p(cfg, "state", f"round={rnd}", "budget")
            )
        )
        t_st0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=len(writes)) as ex:
            for fut in [ex.submit(w) for w in writes]:
                fut.result()  # surface the first failure, after all joined
        t_state = time.monotonic() - t_st0

        # the round's deltas join the live lists only at the flip
        delta = f"delta={rnd}"
        live = {
            "seen": state.live["seen"] + ([delta] if cfg.dedup_mode != "cuckoo" else []),
            "filters": state.live["filters"] + ([delta] if new_filters is not None else []),
        }
        _commit_manifest(
            cfg, rnd,
            {
                "round": rnd,
                "scheduled": int(n_scheduled),
                "fetched_ok": int(obs.get["n_ok"] or 0),
                "stopped": stopped,
                "secs": round(time.monotonic() - t0, 3),
                # per-round stage metrics: the fused log job vs the
                # concurrent state-commit barrier (the rest is admission
                # planning + driver bookkeeping)
                "log_secs": round(t_log, 3),
                "state_secs": round(t_state, 3),
            },
            live,
        )
    finally:
        release()  # the round's pins, also when the round raises
    # the stop round is a fully committed round (log/seen/state all
    # written, manifest points at rnd >= 0) — a resume reads the flag
    # and returns instead of replaying empty rounds
    return None if stopped else _read_state(spark, cfg, rnd, live)


def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    robots: DataFrame,
    budgets: DataFrame,
    images: DataFrame,
    cfg: CrawlConfig,
    resume: bool = False,
) -> DataFrame:
    """Run the crawl to completion; returns the crawl log (one row per
    scheduled fetch)."""
    mft = _manifest(cfg) if resume else None
    state = _start_state(spark, cfg, budgets, mft)
    if mft is not None and mft.get("stats", {}).get("stopped"):
        state = None  # crawl already reached its natural stop
    rnd = 0 if mft is None else mft["round"] + 1
    while state is not None and rnd < cfg.max_rounds:
        if rnd == 0:
            candidates = prepare_frontier(seeds.select("url", "priority", "seq", "force"))
        else:
            candidates = _derive_candidates(spark, cfg, rnd - 1)
        state = crawl_round(spark, cfg, rnd, candidates, state, robots, images)
        rnd += 1
    return crawl_log(spark, cfg)


def crawl_log(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    """The global crawl-order artifact over the committed rounds: total
    order (round, priority, host, seq) with a global rank — computed
    two-phase (range partition + per-partition rank + offsets), never a
    single-partition window."""
    from cola_spark.operators.ranking import global_rank

    rnd = latest_round(cfg)
    if rnd is None:
        schema = FRONTIER_SCHEMA + ", round int, host_rank int, image_id string, fetch_ok boolean"
        if cfg.decode:
            schema += ", fmt string, psnr double, invariant_ok boolean"
        return spark.createDataFrame([], schema + ", global_rank long")
    log = spark.read.parquet(*[_p(cfg, "log", f"round={r}") for r in range(rnd + 1)])
    # eager_release: crawl_log is a one-shot artifact call (end of
    # run_crawl, gate, bench) — don't leave the ranged frame pinned
    return global_rank(log, ["round", "priority", "host", "seq"], eager_release=True)


def final_state(spark: SparkSession, cfg: CrawlConfig):
    """(pending, seen, budget_state) at the last committed round."""
    m = _manifest(cfg)
    rnd = m["round"]
    return (
        spark.read.parquet(_p(cfg, "state", f"round={rnd}", "pending")),
        _read_seen(spark, cfg, m["seen"]),
        spark.read.parquet(_p(cfg, "state", f"round={rnd}", "budget")),
    )
