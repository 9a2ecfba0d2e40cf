"""Budget/speed accounting as a ledger table.

Reference semantics (cola/functions/budget.py BudgetApplyServer
~L20-110): ``apply(k) -> granted = min(k, budgets - applied)``,
``finish(n)`` accumulates toward ALLFINISHED (finished >= budgets),
``error(n)`` returns budget (applied -= n). cola's SpeedControlServer
(cola/functions/speed.py ~L20-220) bounds pages/minute; our analogue is
the per-round token refill ``rate_per_round``.

Ledger columns: host, budget, rate_per_round, applied, finished,
errored. All transitions are joins + column arithmetic — a broadcast-
size table (one row per host config, not per URL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: adaptive-rate window: the backoff is ceil(mean(errors)) over the
#: last ERR_WINDOW rounds, so one noisy round can't over-throttle a
#: host (SURVEY §2 row 22: "avg(errors) over last k rounds scaling
#: rate") and recovery after a genuinely bad patch is gradual.
ERR_WINDOW = 3


#: the ledger's columns, as init_budget_state builds them and
#: update_budget_state_outcomes keeps them
LEDGER_SCHEMA = (
    "host string, budget long, rate_per_round long, applied long, finished long,"
    " errored long, last_errored long, err_hist array<long>"
)


def init_budget_state(budgets: DataFrame) -> DataFrame:
    """The unspent ledger of a budgets table (host, budget,
    rate_per_round). Budget and rate are cast to long when they are not
    (the generators' long columns keep their plan), so the ledger is
    LEDGER_SCHEMA-typed whatever integer types the budgets carry."""
    have = dict(budgets.dtypes)
    return budgets.select(
        "host",
        *[
            c if have[c] == "bigint" else F.col(c).cast("long").alias(c)
            for c in ("budget", "rate_per_round")
        ],
        F.lit(0).cast("long").alias("applied"),
        F.lit(0).cast("long").alias("finished"),
        F.lit(0).cast("long").alias("errored"),
        F.lit(0).cast("long").alias("last_errored"),
        F.array().cast("array<long>").alias("err_hist"),
    )


def budget_caps(state: DataFrame, adaptive: bool = False) -> DataFrame:
    """Per-host grant cap for this round: min(remaining budget, rate).

    adaptive=True mirrors cola's adaptive speed mode
    (cola/functions/speed.py ~L150-220: rate drops as "banned"/error
    counts rise): the effective rate backs off by ceil(mean(errors))
    over the host's last ERR_WINDOW rounds (err_hist, newest first),
    floored at 1 page/round so recovery is possible. Windowed rather
    than last-round-only: a single noisy round among clean ones only
    contributes 1/ERR_WINDOW of its error count to the backoff, and
    the rate ramps back over the window instead of snapping.
    Deterministic — derived only from ledger columns, integer-exact
    ((sum + n - 1) div n is ceil for non-negative sums).
    """
    rate = F.col("rate_per_round")
    if adaptive:
        backoff = F.expr(
            "CASE WHEN size(err_hist) > 0 THEN "
            "(aggregate(err_hist, 0L, (a, x) -> a + x)"
            " + size(err_hist) - 1) div size(err_hist) ELSE 0L END"
        )
        rate = F.greatest(rate - backoff, F.lit(1))
    return state.select(
        "host",
        F.least(F.col("budget") - F.col("applied"), rate).alias("cap"),
    ).filter(F.col("cap") > 0)


def round_outcomes(log: DataFrame) -> DataFrame:
    """(host, n_granted, n_finished, n_errored) from one round's crawl
    log in a SINGLE scan/aggregation — three separate groupBys would
    read the log three times per round."""
    return log.groupBy("host").agg(
        F.count("*").alias("n_granted"),
        F.sum(F.col("fetch_ok").cast("long")).alias("n_finished"),
        F.sum((~F.col("fetch_ok")).cast("long")).alias("n_errored"),
    )


def update_budget_state_outcomes(state: DataFrame, outcomes: DataFrame) -> DataFrame:
    """Apply one round's outcomes. Errors return budget (cola error()):
    applied counts only grants that weren't errored back."""
    df = state.join(F.broadcast(outcomes), "host", "left").na.fill(
        {"n_granted": 0, "n_finished": 0, "n_errored": 0}
    )
    return df.select(
        "host", "budget", "rate_per_round",
        (F.col("applied") + F.col("n_granted") - F.col("n_errored")).alias("applied"),
        (F.col("finished") + F.col("n_finished")).alias("finished"),
        (F.col("errored") + F.col("n_errored")).alias("errored"),
        F.col("n_errored").cast("long").alias("last_errored"),
        F.slice(
            F.concat(
                F.array(F.col("n_errored").cast("long")),
                F.coalesce(F.col("err_hist"), F.array().cast("array<long>")),
            ),
            1, ERR_WINDOW,
        ).alias("err_hist"),
    )


def all_finished(state: DataFrame) -> bool:
    """cola's ALLFINISHED: every host's finished >= budget."""
    row = state.agg(
        F.min(F.col("finished") >= F.col("budget")).alias("done")
    ).first()
    return bool(row.done)


# ---------------------------------------------------------------------
# AIMD per-host rate control (round 5): cola's adaptive speed unit
# (cola/core/rpc speed control, SURVEY §2 row 22) halves a worker's
# page budget on overload and creeps it back up — TCP's
# additive-increase / multiplicative-decrease, per host:
#
#     rate[t] = min(cap, rate[t-1] + 1)          if round t succeeded
#             = max(1, rate[t-1] div 2)          if it errored
#
# This is NOT window-expressible (the halving makes the recurrence
# non-linear), so it runs as the repo's standard unrolled-iteration
# shape (host_pagerank / Lloyd / GD): T host-scale passes, each one
# equi-join + CASE, localCheckpoint per round to cut lineage; the
# oracle replays all T rounds as CTEs, so a wrong cap/floor or a
# truncation-vs-floor divergence hash-fails. All values nonneg ->
# Spark div == DuckDB //.


def aimd_rates(
    outcomes: DataFrame,
    rounds: int,
    r0: int = 4,
    cap: int = 16,
    checkpoint: bool = True,
) -> DataFrame:
    """Full rate trajectory (host, round, ok, rate) from per-round
    outcomes (host, round, ok). `rate` is the budget IN EFFECT for
    that round, i.e. the value AFTER applying round t's outcome to the
    previous rate — the number the next scheduling cut consumes."""
    hosts = outcomes.select("host").distinct()
    if checkpoint:
        hosts = hosts.localCheckpoint()
    cur = hosts.select("host", F.lit(r0).cast("long").alias("rate"))
    outs = []
    for t in range(1, rounds + 1):
        ot = outcomes.filter(F.col("round") == t).select("host", "ok")
        nxt = cur.join(ot.hint("shuffle_hash"), "host").select(
            "host",
            F.col("ok"),
            F.when(
                F.col("ok"),
                F.least(F.lit(cap).cast("long"), F.col("rate") + 1),
            )
            .otherwise(
                F.greatest(
                    F.lit(1).cast("long"), F.expr("rate div 2")
                )
            )
            .alias("rate"),
        )
        if checkpoint:
            nxt = nxt.localCheckpoint()
        outs.append(
            nxt.select(
                "host", F.lit(t).cast("long").alias("round"), "ok", "rate"
            )
        )
        cur = nxt.select("host", "rate")
    u = outs[0]
    for f in outs[1:]:
        u = u.unionByName(f)
    return u


# ---------------------------------------------------------------------
# Max-min fair (water-filling) capacity division (round 5): cola's
# budget applies a FIXED per-unit allotment; a production scheduler
# divides a global fetch capacity C across hosts with heterogeneous
# demands max-min fairly — small demands fully granted, the rest capped
# at a common water level L, so no host can starve the pool.
#
# Exact integer construction (deterministic cross-engine):
#   * rank hosts by (demand, host); prefix[r] = running demand sum;
#   * rank r is FULLY granted iff d_r·(n−r+1) ≤ C − prefix[r−1] — the
#     predicate is monotone in r, so the grant set is ranks 1..k;
#   * capped hosts share R = C − prefix[k]: L = R div (n−k), and the
#     first (R mod (n−k)) capped hosts IN HOST ORDER get L+1 (the
#     deterministic remainder rule — floats would dither here);
#   * maximality of k guarantees L < d_{k+1} ≤ d_i for every capped
#     host, so capped allocations never exceed demand.
#
# Scale note: the demand table is HOST-scale (the budget ledger's own
# cardinality). The rank/cumsum below uses the two-phase global_rank +
# an ordered window over it; beyond ledger scale the segmented-cumsum
# form (sampling.token_budget_mix's _hash_layout offsets) drops in.


def waterfill_alloc(
    demands: DataFrame,
    capacity: int,
    host_col: str = "host",
    demand_col: str = "demand",
) -> DataFrame:
    """(host, demand, alloc, capped) — max-min fair integer division
    of `capacity` across hosts. sum(alloc) = min(capacity, sum(demand))
    and no capped host receives less than any other capped host ±1."""
    from cola_spark.operators.ranking import global_rank

    d = demands.select(
        F.col(host_col).alias("host"),
        F.col(demand_col).cast("long").alias("demand"),
    )
    ranked = global_rank(d, ["demand", "host"], out_col="r",
                         eager_release=True)
    w = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    pre = ranked.select(
        "host", "demand", "r", F.sum("demand").over(w).alias("prefix")
    )
    n1 = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("demand").cast("long").alias("total"),
    )
    j = pre.crossJoin(F.broadcast(n1)).select(
        "*",
        (
            F.col("demand") * (F.col("n") - F.col("r") + 1)
            <= F.lit(capacity) - (F.col("prefix") - F.col("demand"))
        ).alias("full"),
    )
    ks = j.agg(
        F.sum(F.col("full").cast("int")).cast("long").alias("k"),
        F.max(F.when(F.col("full"), F.col("prefix")))
        .alias("pk"),
    ).select("k", F.coalesce("pk", F.lit(0)).alias("prefix_k"))
    jj = j.crossJoin(F.broadcast(ks))
    lvl = F.expr(
        f"CASE WHEN n > k THEN ({capacity} - prefix_k) div (n - k)"
        f" ELSE 0 END"
    )
    rem = F.expr(
        f"CASE WHEN n > k THEN ({capacity} - prefix_k) % (n - k)"
        f" ELSE 0 END"
    )
    # remainder rule: capped hosts in HOST order, the first `rem` get +1
    wcap = Window.partitionBy("full").orderBy("host")
    out = jj.select(
        "host",
        "demand",
        "full",
        lvl.alias("_l"),
        rem.alias("_rem"),
        F.row_number().over(wcap).alias("_ci"),
    )
    return out.select(
        "host",
        "demand",
        F.when(F.col("full"), F.col("demand"))
        .otherwise(
            F.col("_l")
            + (F.col("_ci") <= F.col("_rem")).cast("long")
        )
        .cast("long")
        .alias("alloc"),
        (~F.col("full")).alias("capped"),
    )


def yield_alloc(
    stats: DataFrame,
    capacity: int,
    host_col: str = "host",
    fetched_col: str = "fetched",
    discovered_col: str = "discovered",
) -> DataFrame:
    """(host, fetched, discovered, yield_weight, granted) — next-round
    budget proportional to observed discovery YIELD (new URLs per
    fetch), the crawl-economics reallocation cola's static speed units
    lack: productive hosts earn capacity, exhausted ones shrink toward
    the +1 smoothing floor (no host starves to zero — it must keep
    probing to detect recovery).

    Integer largest-remainder division, exact: yield_weight =
    1 + (1000·discovered) DIV fetched; base grant = (C·w) DIV Σw; the
    C − Σbase leftover goes +1 each to the largest (remainder DESC,
    host ASC) — so SUM(granted) == capacity ALWAYS, the invariant the
    round loop's global cap depends on. Contract: fetched >= 1 per row
    (stats come from a crawl-log groupBy, so every present host was
    fetched at least once; ANSI mode makes DIV by zero a runtime
    error, deliberately loud rather than a silent weight). Scale shape: host-scale frame
    throughout (the corpus never enters), one two-phase global rank,
    totals via broadcast 1-row aggregates — no driver action, no
    corpus-scale window."""
    from cola_spark.operators.ranking import global_rank

    w = stats.select(
        F.col(host_col).alias("host"),
        F.col(fetched_col).cast("long").alias("fetched"),
        F.col(discovered_col).cast("long").alias("discovered"),
    ).withColumn(
        "yield_weight", F.expr("1 + (1000 * discovered) DIV fetched")
    )
    tot = w.agg(F.sum("yield_weight").cast("long").alias("_yw"))
    g = w.crossJoin(F.broadcast(tot)).select(
        "*",
        F.expr(f"({capacity} * yield_weight) DIV _yw").alias("_base"),
        F.expr(f"({capacity} * yield_weight) % _yw").alias("_rem"),
    )
    ranked = global_rank(
        g.withColumn("_negrem", -F.col("_rem")),
        ["_negrem", "host"],
        out_col="_rk",
        eager_release=True,
    )
    left = ranked.agg(
        (F.lit(capacity) - F.sum("_base")).cast("long").alias("_left")
    )
    return ranked.crossJoin(F.broadcast(left)).select(
        "host",
        "fetched",
        "discovered",
        "yield_weight",
        (F.col("_base") + (F.col("_rk") <= F.col("_left")).cast("long"))
        .cast("long")
        .alias("granted"),
    )


def bytes_budget_cut(
    frontier: DataFrame,
    byte_budget: int,
    default_len: int,
    host_col: str = "host",
    len_col: str = "expected_len",
    order_cols: tuple = ("prio", "seq"),
) -> DataFrame:
    """Egress-budget rationing: per host, grant the maximal FIFO prefix
    whose cumulative expected body size fits `byte_budget`.

    cola's budget unit is a URL count (its budget apply/finish
    protocol); at image-crawl scale the binding resource is usually
    BYTES — one host serving 20 MB originals exhausts real egress 100×
    faster than a thumbnail host at the same URL count. Expected size
    comes from the previous crawl's content_len (the same column the
    conditional-GET planner keeps, operators/revalidate.py); URLs never
    fetched carry NULL and are costed at `default_len`.

    Strict-prefix semantics on purpose: a too-large row BLOCKS the rest
    of its host's queue (no skip-ahead) — skipping would reorder the
    politeness FIFO and break the crawl-order contract the scheduler
    verifies. The cut is one host-partitioned running-sum window —
    embarrassingly host-parallel, the same exchange class as every
    politeness operator here; cumulative cost is monotone (costs are
    positive), so `cum <= budget` selects exactly the FIFO prefix.
    """
    oc = [F.col(c) for c in order_cols]
    w = (
        Window.partitionBy(host_col)
        .orderBy(*oc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cost = F.coalesce(F.col(len_col), F.lit(default_len)).cast("long")
    return (
        frontier.withColumn("cost", cost)
        .withColumn("cum_bytes", F.sum("cost").over(w).cast("long"))
        .filter(F.col("cum_bytes") <= byte_budget)
    )
