"""Priority-MQ ordering + per-host budget cut, skew-proofed.

Reference semantics: the MQ serves higher-priority stores first, FIFO
within a priority level (cola/core/mq/__init__.py get path ~L130-190;
per-priority append-only stores in store.py), and the executor only
crawls as many units as the BudgetApplyServer grants
(cola/functions/budget.py apply ~L20-110).

Spark re-expression: the crawl order within a host is the total order
(priority ASC, seq ASC) — seq is the global discovery sequence, so FIFO
within a level is exact. The per-round per-host grant is a top-k cut on
that order with k = cap(host) = min(budget - applied, rate_per_round).

Skew: one hot Zipf host can hold a huge share of pending rows; a naive
Window.partitionBy(host) sends them all to one task. Because caps are
small, we cut in two phases:
  phase 1: rank within (host, salt) where salt = pmod(url_hash, S)
           → keep rank <= cap      (parallel across S tasks per host)
  phase 2: rank within host over the <= S*cap survivors → rank <= cap
Phase-2 input is bounded by S*cap rows per host regardless of skew.
This is semantically identical to the single-window cut (top-k of a
union = top-k of the union of per-part top-ks) and deterministic —
(priority, seq) has no ties since seq is unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def schedule_cut(
    pending: DataFrame, caps: DataFrame, salt_buckets: int = 16,
    broadcast_caps: bool = True, spread: bool = True,
) -> DataFrame:
    """Pick this round's crawl set: per host, the cap(host) first rows in
    (priority, seq) order. ``caps``: (host, cap). Returns scheduled rows
    with a ``host_rank`` column (1-based position in the host's queue).

    broadcast_caps=True is right when the host universe is broadcast-
    sized (a focused crawl); pass False for web-scale host sets (10^7+
    hosts ≈ hundreds of MB — a serial broadcast build per round is the
    wrong plan there; the shuffle join's exchange is parallel). The
    False path carries an explicit shuffle_hash hint: caps frames
    usually derive from compact plans whose size estimate makes the
    planner pick a broadcast build regardless, turning the knob into a
    no-op (continuation-session stage-A A/B: the hinted plan is faster
    at both 8 and 32 cores).

    ``spread`` controls the phase-1 salted repartition when the caps
    join is shuffled. The join leaves the frontier hash-partitioned by
    host, which SATISFIES the phase-1 window's (host, salt) clustering
    (subset rule) — so without an explicit exchange the salt bounds
    each window GROUP's sort but a Zipf-hot host's rows stay physically
    in ONE partition:

      * spread=True (default, skew-safe): explicit (host, _salt)
        repartition after the host-keyed join — a mega-host spreads
        over salt_buckets partitions for the phase-1 sort+cut, at the
        cost of one extra frontier-scale exchange;
      * spread=False: elide spreading entirely — fastest when the host
        distribution is known to be politeness-bounded (many hosts,
        none dominating). A/Bs for the shapes: BENCH/BASELINE.md.
    """
    active = caps.filter(F.col("cap") > 0)
    if not broadcast_caps:
        active = active.hint("shuffle_hash")
    df = pending.withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(salt_buckets))
    ).join(F.broadcast(active) if broadcast_caps else active, "host", "inner")
    if not broadcast_caps and spread:
        df = df.repartition("host", "_salt")
    w1 = Window.partitionBy("host", "_salt").orderBy("priority", "seq")
    phase1 = (
        df.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= F.col("cap"))
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy("host").orderBy("priority", "seq")
    return (
        phase1.withColumn("host_rank", F.row_number().over(w2))
        .filter(F.col("host_rank") <= F.col("cap"))
        .drop("cap")
    )


def apply_global_cap(scheduled: DataFrame, global_cap: int | None) -> DataFrame:
    """Cluster-wide pages/round ceiling — cola's ``speed.max`` (the
    per-instance ``speed.single`` analogue is the per-host rate in
    budget_caps; cola/functions/speed.py ~L20-220 keeps both).

    Applied AFTER the per-host cut: of the per-host grants, keep the
    ``global_cap`` first rows in the deterministic total order
    (priority, seq) — seq is unique, so the tie-break is exact and
    cluster-size-invariant. Rows cut here were never granted (they stay
    in pending and compete next round). Ranking is the two-phase
    range-partitioned rank — no single-partition window.
    """
    if global_cap is None:
        return scheduled
    from cola_spark.operators.ranking import global_rank

    ranked = global_rank(scheduled, ["priority", "seq"], out_col="_grank")
    return ranked.filter(F.col("_grank") <= global_cap).drop("_grank")


def age_priorities(
    pending: DataFrame,
    current_round: int,
    boost_every: int = 3,
    round_col: str = "enqueue_round",
    priority_col: str = "priority",
) -> DataFrame:
    """Starvation-avoidance priority aging: effective_priority =
    max(0, priority − waited_rounds DIV boost_every), waited_rounds =
    current_round − enqueue_round. A low-priority URL parked behind a
    hot host's high-priority stream climbs one level every
    ``boost_every`` rounds it waits, so every enqueued URL is
    eventually served — the bounded-bypass guarantee cola's strict
    priority stores lack (a saturated level-0 store starves level 2
    forever; SURVEY §2 row 24 semantics preserved WITHIN a level:
    ties in effective_priority still serve FIFO by seq).

    Pure projection (two integer columns added, priority semantics
    stay a total order with seq) — composes in front of schedule_cut
    with zero extra exchanges; the cut then orders on
    (effective_priority, seq) instead of (priority, seq)."""
    waited = F.lit(int(current_round)) - F.col(round_col)
    # integer form, engine-exact: priority - waited DIV boost_every
    eff = F.greatest(
        F.lit(0).cast("int"),
        (
            F.col(priority_col).cast("int")
            - F.expr(f"CAST(({current_round} - {round_col}) DIV {boost_every} AS INT)")
        ),
    )
    return pending.select(
        "*",
        waited.cast("long").alias("waited_rounds"),
        eff.cast("int").alias("effective_priority"),
    )
