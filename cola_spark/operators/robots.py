"""robots.txt gating — a north-rule addition with no reference analogue
(cola's openers fetch unconditionally; there is no robotparser anywhere
in cola/core/opener.py).

A URL is blocked when any robots row for its host has a disallow_prefix
that prefixes the URL path. The robots table is tiny relative to the
frontier → broadcast anti-join, zero shuffle of the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def robots_gate(
    frontier: DataFrame, robots: DataFrame, broadcast: bool = True
) -> DataFrame:
    """Drop frontier rows disallowed by robots (supports multiple
    disallow prefixes per host).

    broadcast=True for broadcast-sized host universes (a focused
    crawl). At web-scale host sets (10^5+ rules) the per-round
    broadcast build is serial driver-adjacent work that caps stage
    scaling — pass False for a parallel shuffled anti-join on host
    (same knob rationale as schedule_cut's broadcast_caps).

    broadcast=False carries an explicit shuffle_hash hint: without it
    the planner's size ESTIMATE (rules often derive from compact
    plans) silently picks a broadcast build anyway and the knob is a
    no-op — measured in the continuation-session stage-A A/B, the
    hinted plan is faster at BOTH 8 and 32 cores: the serial broadcast
    build becomes a parallel host-keyed exchange (and with
    schedule_cut(spread=False) the downstream cut windows can reuse
    that partitioning outright — ClusteredDistribution is satisfied by
    a key subset)."""
    r = robots.select("host", "disallow_prefix")
    r = F.broadcast(r) if broadcast else r.hint("shuffle_hash")
    cond = (frontier["host"] == r["host"]) & frontier["path"].startswith(
        r["disallow_prefix"]
    )
    return frontier.join(r, cond, "left_anti")


# ---------------------------------------------------------------------
# robots.txt PARSING (round 5): the sitemap treatment applied to row 11
# — instead of assuming a pre-parsed rule table, parse the raw per-host
# robots.txt text relationally and decide per-URL with the web rule
# (RFC 9309 / Google): longest matching prefix wins, Allow beats
# Disallow on a length tie, and the MOST SPECIFIC user-agent group is
# used alone (an exact-agent group REPLACES the `*` group — groups do
# not merge; the spec subtlety tests pin). Simplifications, documented:
# UA selection is exact-or-star (the spec's longest-substring UA match
# degenerates to that for the agents a scheduler actually runs), and
# $/ * wildcards inside paths are out of scope (plain prefix rules).
#
# Scale: the robots corpus is HOST-scale. Parsing is one posexplode +
# one host-keyed window (block numbering) + config-scale joins; the
# per-URL decision joins the frontier to chosen rules on host — the
# same exchange shape the frontier already pays — then reduces with one
# combinable max(struct). No URL-scale window, no Python.


def _robots_lines(robots: DataFrame, host_col: str, txt_col: str) -> DataFrame:
    """(host, line_no, dir, val, is_ua, block) — comment-stripped,
    case-folded directives, values verbatim (paths are case-sensitive);
    block = index of the user-agent RUN governing this line (a maximal
    run of consecutive UA lines opens a new block; its rules follow)."""
    ln = F.posexplode(F.split(F.col(txt_col), "\n"))
    clean = F.trim(F.regexp_replace("line", "#.*$", ""))
    pat = r"(?i)^(user-agent|disallow|allow|crawl-delay|sitemap)\s*:\s*(.*)$"
    base = (
        robots.select(F.col(host_col).alias("host"), ln.alias("line_no", "line"))
        .select(
            "host",
            "line_no",
            F.lower(F.regexp_extract(clean, pat, 1)).alias("dir"),
            F.trim(F.regexp_extract(clean, pat, 2)).alias("val"),
        )
    )
    w = Window.partitionBy("host").orderBy("line_no")
    is_ua = (F.col("dir") == "user-agent").alias("is_ua")
    run_start = F.col("is_ua") & ~F.coalesce(F.lag("is_ua").over(w), F.lit(False))
    return (
        base.select("host", "line_no", "dir", "val", is_ua)
        .select(
            "*",
            F.sum(run_start.cast("int"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("block"),
        )
    )


def _chosen_blocks(lines: DataFrame, agent: str) -> DataFrame:
    """(host, block) of the governing UA group: the exact-agent blocks
    when any exist for the host, else the `*` blocks."""
    uas = lines.filter("is_ua").select(
        "host", "block", F.lower("val").alias("ua")
    )
    exact = uas.filter(F.col("ua") == agent.lower()).select("host", "block")
    star = uas.filter(F.col("ua") == "*").select("host", "block")
    has_exact = exact.select("host").distinct()
    return exact.unionByName(
        star.join(has_exact.hint("shuffle_hash"), "host", "left_anti")
    ).distinct()


def parse_robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    txt_col: str = "txt",
    agent: str = "colabot",
) -> DataFrame:
    """(host, prefix, is_allow) — the path rules of the governing UA
    group. Empty-value rules are the spec no-op and are dropped."""
    lines = _robots_lines(robots, host_col, txt_col)
    chosen = _chosen_blocks(lines, agent)
    return (
        lines.filter(F.col("dir").isin("allow", "disallow"))
        .filter(F.col("val") != "")
        .join(chosen.hint("shuffle_hash"), ["host", "block"])
        .select(
            "host",
            F.col("val").alias("prefix"),
            (F.col("dir") == "allow").alias("is_allow"),
        )
    )


def parse_robots_delay(
    robots: DataFrame,
    host_col: str = "host",
    txt_col: str = "txt",
    agent: str = "colabot",
) -> DataFrame:
    """(host, delay_s) — min crawl-delay of the governing group; hosts
    without one are absent (caller applies its default)."""
    lines = _robots_lines(robots, host_col, txt_col)
    chosen = _chosen_blocks(lines, agent)
    return (
        lines.filter(F.col("dir") == "crawl-delay")
        .filter(F.col("val").rlike("^[0-9]+$"))
        .join(chosen.hint("shuffle_hash"), ["host", "block"])
        .groupBy("host")
        .agg(F.min(F.col("val").cast("long")).alias("delay_s"))
    )


def robots_decide(
    frontier: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Per-URL decision table (frontier cols + matched_len + allowed):
    longest matching prefix wins, Allow beats Disallow on a tie (the
    max(struct(len, is_allow)) encodes exactly that order), no match →
    allowed. One host-keyed join + one combinable aggregate."""
    r = rules.select(
        F.col("host").alias("_rh"), "prefix", F.col("is_allow").cast("int").alias("_a")
    )
    hits = (
        frontier.join(
            r.hint("shuffle_hash"),
            (frontier[host_col] == F.col("_rh"))
            & frontier[path_col].startswith(F.col("prefix")),
            "left",
        )
        .groupBy(host_col, path_col)
        .agg(
            F.max(
                F.when(
                    F.col("prefix").isNotNull(),
                    F.struct(F.length("prefix").alias("l"), F.col("_a").alias("a")),
                )
            ).alias("_best")
        )
    )
    return hits.select(
        host_col,
        path_col,
        F.coalesce(F.col("_best.l"), F.lit(0)).cast("long").alias("matched_len"),
        F.coalesce(F.col("_best.a") == 1, F.lit(True)).alias("allowed"),
    )


def parse_robots_sitemaps(
    robots: DataFrame, host_col: str = "host", txt_col: str = "txt"
) -> DataFrame:
    """(host, sitemap_url) — Sitemap: directives. Per RFC 9309 §2.3
    the directive is GLOBAL (valid anywhere in the file, outside any
    user-agent group), so no group selection applies — in deliberate
    contrast to rules/crawl-delay. Batch-distinct per host."""
    lines = _robots_lines(robots, host_col, txt_col)
    return (
        lines.filter(F.col("dir") == "sitemap")
        .filter(F.col("val") != "")
        .select("host", F.col("val").alias("sitemap_url"))
        .distinct()
    )


def robots_refetch_plan(
    frontier: DataFrame,
    cache: DataFrame,
    now_s: int,
    n_fetchers: int = 16,
    batch_size: int = 32,
    host_col: str = "host",
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """(host, status, action, shard, batch_idx): robots.txt cache TTL
    planning — which hosts need a robots fetch BEFORE this round's URLs
    can be dispatched, and what happens to their URLs meanwhile.

    The robots cache is its own piece of crawl infrastructure (distinct
    from DNS: different TTL regime — hours-to-a-day per RFC 9309 §2.4
    vs seconds-to-minutes — and different blocking semantics), and the
    web rule for staleness is asymmetric:

      * `fresh`  (fetched_at + ttl_s > now): action `serve` — decide
        URLs from the cached rules, zero fetcher work (shard/batch -1).
      * `expired` (cached but stale): action `serve_stale` — RFC 9309
        §2.4 allows serving the stale copy while revalidating (a host
        that answered once keeps its last-known policy), so this
        round's URLs PROCEED under the stale rules and the refetch is
        scheduled.
      * `missing` (never fetched): action `hold` — a host whose policy
        was never seen must NOT be fetched (the conservative reading;
        fetching the page before robots.txt is the compliance bug), so
        its URLs are held this round and only the robots fetch itself
        is dispatched.

    Scheduling shape is the dnscache one (hosts are DISTINCT keys →
    hash-mod over `n_fetchers` is balanced salt-free; per-shard bounded
    batches via one rank window whose width is hosts/n_fetchers).
    One distinct over frontier hosts — the exchange the politeness
    queue already pays — plus a host-keyed left join against the
    host-scale cache. md5 family replays in DuckDB (queries.py
    `robots_refetch_plan`)."""
    from cola_spark.operators.textdedup import hash_family

    h = hash_family(hash_kind)
    hosts = frontier.select(F.col(host_col).alias("host")).distinct()
    joined = hosts.join(
        cache.select("host", "fetched_at", "ttl_s"), "host", "left"
    )
    classified = joined.select(
        "host",
        F.when(F.col("fetched_at").isNull(), F.lit("missing"))
        .when(
            F.col("fetched_at") + F.col("ttl_s") > F.lit(now_s),
            F.lit("fresh"),
        )
        .otherwise(F.lit("expired"))
        .alias("status"),
    )
    fresh = classified.filter(F.col("status") == "fresh").select(
        "host",
        "status",
        F.lit("serve").alias("action"),
        F.lit(-1).cast("long").alias("shard"),
        F.lit(-1).cast("long").alias("batch_idx"),
    )
    to_fetch = classified.filter(F.col("status") != "fresh").withColumn(
        "shard",
        F.pmod(h(F.col("host"), 83), F.lit(n_fetchers)).cast("long"),
    )
    w = Window.partitionBy("shard").orderBy("host")
    planned = to_fetch.select(
        "host",
        "status",
        F.when(F.col("status") == "expired", F.lit("serve_stale"))
        .otherwise(F.lit("hold"))
        .alias("action"),
        "shard",
        ((F.row_number().over(w) - 1) / F.lit(batch_size))
        .cast("long")
        .alias("batch_idx"),
    )
    return fresh.unionByName(planned)
