"""Host link-authority ranking — the adaptive-priority signal cola's
static per-unit priority lacks (cola/core/mq prioritizes by a fixed
int; production crawl schedulers rank hosts by link authority, OPIC /
PageRank-style, and feed that into the budget cut).

PageRank on the INTEGER GRID, the same engine-stability discipline as
the trained quantizers (similarity.py Lloyd) and the LR trainer
(quality_lr.py GD): ranks are BIGINTs scaled by R0 = 2^20, the damped
update is

    r'[v] = floor((1-d_num/d_den) * R0) + Σ_{u→v} floor(d_num * r[u] /
            (d_den * out_deg[u]))

with d = d_num/d_den = 85/100 — every term is floor-of-integer
division, so the per-iteration result is EXACTLY reproducible in any
ANSI-SQL engine (the oracle unrolls the iterations as CTEs; a wrong
damping constant or a float creeping in hash-fails the driver gate).

Scale shape: one shuffle per iteration — contributions are an
edge-keyed map-side-combinable sum (edges join the current rank
broadcast-or-shuffled by src); out-degrees computed once and cached
with the edge list. Dangling nodes (no out-edges) keep their mass out
of circulation (OPIC semantics — acceptable for a priority SIGNAL, and
exactly mirrored in the oracle); nodes with no in-edges settle at the
teleport floor. localCheckpoint per iteration cuts the lineage the
same way the CC loop does (clusters.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

R0 = 1 << 20  # rank scale: rank_float = rank_int / R0
D_NUM, D_DEN = 85, 100  # damping 0.85 as an exact rational


def host_pagerank(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """(host, rank): integer-grid damped PageRank over the distinct
    edge list after ``iters`` synchronous iterations. Node universe =
    hosts appearing as src or dst; initial rank = R0 each."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # cut the distinct edge list FIRST: nodes and degrees then derive
    # from the graph-scale checkpointed frame, not the corpus-scale
    # plan — checkpointing them after deriving from the raw plan would
    # re-run the corpus distinct once per derived frame (the hits_scores
    # fix below; same 12s->graph-scale measurement)
    if checkpoint:
        e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ed = e.join(deg, "src")  # (src, dst, out_deg) — built once, reused
    if checkpoint:
        ed = ed.localCheckpoint()
        # nodes is graph-sized; its own cut keeps each iteration's left
        # join from re-running even the graph-scale union+distinct
        nodes = nodes.localCheckpoint()
    teleport = (R0 * (D_DEN - D_NUM)) // D_DEN
    r = nodes.select("host", F.lit(R0).cast("long").alias("rank"))
    for _ in range(int(iters)):
        contrib = (
            ed.join(r.withColumnRenamed("host", "src"), "src")
            .select(
                "dst",
                F.floor(
                    (F.lit(D_NUM) * F.col("rank"))
                    / (F.lit(D_DEN) * F.col("out_deg"))
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        r = (
            nodes.join(contrib.withColumnRenamed("dst", "host"), "host", "left")
            .select(
                "host",
                (
                    F.lit(teleport)
                    + F.coalesce(F.col("in_mass"), F.lit(0))
                ).cast("long").alias("rank"),
            )
        )
        if checkpoint:
            r = r.localCheckpoint()
    return r


def anchor_rollup(
    edges: DataFrame,
    src_host_col: str = "src_host",
    target_col: str = "target",
    anchor_col: str = "anchor",
) -> DataFrame:
    """(target, n_refs, n_hosts, top_anchor, top_cnt): per-target
    anchor-text aggregation over a link-edge table — the classic
    web-corpus signal (other pages' link text describes the target
    better than the target describes itself; search indexing and
    crawl prioritization both consume it, and LLM pipelines use it as
    target-page training text).

    top_anchor is the most frequent anchor string pointing at the
    target, ties to the lexicographically SMALLEST — computed with NO
    window: (target, anchor) counts, per-target max count, a
    (target, cnt)-keyed join back, then a min() over the tied set.
    Every stage is a map-side-combinable groupBy or an equi-join on
    corpus-derived sides (shuffle_hash pinned); the hottest target is
    an aggregation key, never a cross product, so Zipf-shaped link
    graphs (the real ones) cannot skew a task beyond its own
    aggregation buffer."""
    e = edges.select(
        F.col(target_col).alias("target"),
        F.col(src_host_col).alias("src_host"),
        F.col(anchor_col).alias("anchor"),
    )
    per_t = e.groupBy("target").agg(
        F.count("*").cast("long").alias("n_refs"),
        F.countDistinct("src_host").cast("long").alias("n_hosts"),
    )
    per_ta = e.groupBy("target", "anchor").agg(
        F.count("*").cast("long").alias("cnt")
    )
    top_cnt = (
        per_ta.groupBy("target")
        .agg(F.max("cnt").alias("top_cnt"))
        .withColumnRenamed("target", "_t")  # break the self-join lineage
    )
    top = (
        per_ta.join(
            top_cnt.hint("shuffle_hash"),
            (F.col("target") == F.col("_t")) & (F.col("cnt") == F.col("top_cnt")),
        )
        .select("target", "anchor", "top_cnt")
        .groupBy("target", "top_cnt")
        .agg(F.min("anchor").alias("top_anchor"))
    )
    return per_t.join(top.hint("shuffle_hash"), "target").select(
        "target", "n_refs", "n_hosts", "top_anchor", "top_cnt"
    )


def mirror_host_pairs(
    docs: DataFrame,
    min_jaccard_x1000: int = 500,
    host_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """(host_a, host_b, common, n_a, n_b, jac_x1000): mirror-site
    detection — host pairs whose DISTINCT document-fingerprint sets
    overlap above a Jaccard threshold (CommonCrawl-style mirror
    elimination: the same site served from several hosts floods a
    crawl with per-URL-unique but content-identical pages; whole-doc
    dedup removes the copies one by one, mirror detection removes the
    HOST and its future fetch budget).

    Granularity is the point: doc-level dedup (docs_exact_dedup) keys
    on content, this keys on the host RELATION between content sets.
    Jaccard is exact integer arithmetic (1000·common div union).

    Scale shape: fingerprints are one map-side md5 projection; the
    pair generation is an equi-join ON FINGERPRINT (a fingerprint is
    shared by few hosts — data-adaptive buckets, never |hosts|²; a
    boilerplate fingerprint shared by MANY hosts does fan out
    quadratically, which is the true cost of that evidence — drop
    sub-informative fingerprints upstream via line_dedup when that
    bites); per-host sizes are one groupBy; everything joins
    shuffle_hash (corpus-derived, the no-auto-broadcast rule)."""
    fp = docs.select(
        F.col(host_col).alias("host"),
        F.md5(F.col(text_col).cast("binary")).alias("fp"),
    ).distinct()
    sizes = fp.groupBy("host").agg(F.count("*").cast("long").alias("n"))
    a = fp.select(F.col("host").alias("host_a"), "fp")
    b = fp.select(F.col("host").alias("host_b"), "fp")
    common = (
        a.join(b.hint("shuffle_hash"), "fp")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    return (
        common.join(
            sizes.select(F.col("host").alias("host_a"), F.col("n").alias("n_a")).hint(
                "shuffle_hash"
            ),
            "host_a",
        )
        .join(
            sizes.select(F.col("host").alias("host_b"), F.col("n").alias("n_b")).hint(
                "shuffle_hash"
            ),
            "host_b",
        )
        .withColumn(
            "jac_x1000",
            F.expr("(1000 * common) div (n_a + n_b - common)").cast("long"),
        )
        .filter(F.col("jac_x1000") >= int(min_jaccard_x1000))
        .select("host_a", "host_b", "common", "n_a", "n_b", "jac_x1000")
    )


def link_reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_out: int = 3,
    thr_permille: int = 600,
) -> DataFrame:
    """Link-farm signal: per source host, the fraction of its distinct
    out-links that are reciprocated (the reverse edge exists). Organic
    web linking is overwhelmingly one-directional; a mutual-link
    clique (a farm selling authority) reciprocates near-1000 permille,
    and its pages should be de-prioritized BEFORE PageRank launders
    the clique's self-granted mass (the standard TrustRank-era
    heuristic, complementing mirror_host_pairs' content-side signal).

    is_farm = recip_permille >= thr AND out_deg >= min_out (singleton
    mutual friendships are normal; a floor keeps them out).

    Scale: one distinct + ONE edge-keyed self-semi-join (the reversed
    frame joins on the same (src, dst) key shape — co-partitioned, no
    host² anything) + two host-keyed counts. Integer permille output."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = e.join(rev.hint("shuffle_hash"), ["src", "dst"], "left_semi")
    out = e.groupBy("src").agg(F.count("*").cast("long").alias("out_deg"))
    ro = rec.groupBy("src").agg(
        F.count("*").cast("long").alias("recip_out")
    )
    j = out.join(ro.hint("shuffle_hash"), "src", "left").select(
        F.col("src").alias("host"),
        "out_deg",
        F.coalesce("recip_out", F.lit(0)).cast("long").alias("recip_out"),
    )
    perm = F.expr("recip_out * 1000 div out_deg")
    return j.select(
        "host",
        "out_deg",
        "recip_out",
        perm.cast("long").alias("recip_permille"),
        (
            (perm >= thr_permille) & (F.col("out_deg") >= min_out)
        ).alias("is_farm"),
    )


def hits_scores(
    edges: DataFrame,
    iters: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """(host, hub, authority): integer-grid HITS (Kleinberg) after
    ``iters`` synchronous rounds — the second classic link signal next
    to host_pagerank. Authorities are pages many good hubs point AT
    (content worth fetching); hubs are pages that point at many good
    authorities (directory/seed pages worth re-crawling for discovery).
    A crawl scheduler uses BOTH: authority ranks the fetch queue, hub
    ranks the re-parse/discovery queue — the split PageRank's single
    score can't express.

    Same engine-stability discipline as host_pagerank: scores live on
    an integer grid (S0 = 10^6), each half-step is an edge-keyed SUM
    followed by sum-normalization back to the grid,

        a'[v] = Σ_{u→v} h[u];  a''[v] = (S0 * a'[v]) DIV Σ_w a'[w]
        h'[u] = Σ_{u→v} a''[v]; h''[u] = (S0 * h'[u]) DIV Σ_w h'[w]

    — every term floor-of-integer-division, so the oracle unrolls the
    rounds as CTEs and a wrong normalization order or a float creeping
    in hash-fails the driver gate. (Classic HITS L2-normalizes; sum
    normalization keeps the same ranking fixed-point direction and is
    exactly representable — documented deviation, applied identically
    in both engines.)

    Scale shape: two shuffles per round (groupBy dst, groupBy src) over
    the distinct edge list, normalization totals are broadcast 1-row
    aggregates, node universe built once; the edge list and nodes are
    localCheckpointed once up front, and the score frames every 3rd
    round (never at the default iters=2). Nodes with no in-edges (resp.
    out-edges) settle at authority 0 (resp. hub 0) via left-join
    coalesce — mirrored in the oracle."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # cut the edge list FIRST, then derive nodes from the cut frame:
    # deriving nodes from the pre-checkpoint plan re-runs the
    # corpus-scale distinct a second time (measured 12.4s -> graph-
    # scale when nodes reads the 6k-row checkpointed edges instead)
    if checkpoint:
        e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    if checkpoint:
        nodes = nodes.localCheckpoint()
    s0 = 1_000_000
    h = nodes.select("host", F.lit(s0).cast("long").alias("hub"))
    a = None
    for it in range(int(iters)):
        raw_a = (
            e.join(h.withColumnRenamed("host", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("_ra"))
        )
        ta = raw_a.agg(F.sum("_ra").cast("long").alias("_ta"))
        a = (
            nodes.join(raw_a.withColumnRenamed("dst", "host"), "host", "left")
            .crossJoin(F.broadcast(ta))
            .select(
                "host",
                F.expr(f"({s0} * COALESCE(_ra, 0)) DIV _ta")
                .cast("long")
                .alias("authority"),
            )
        )
        raw_h = (
            e.join(a.withColumnRenamed("host", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("authority").alias("_rh"))
        )
        th = raw_h.agg(F.sum("_rh").cast("long").alias("_th"))
        h = (
            nodes.join(raw_h.withColumnRenamed("src", "host"), "host", "left")
            .crossJoin(F.broadcast(th))
            .select(
                "host",
                F.expr(f"({s0} * COALESCE(_rh, 0)) DIV _th")
                .cast("long")
                .alias("hub"),
            )
        )
        if checkpoint and it % 3 == 2:
            # lineage cut every 3rd round only: the frames are
            # host-scale, and an eager localCheckpoint per half-step
            # costs a full (if tiny) job each — at iters=2 the final
            # action folds the whole shallow lineage into one job
            # (measured 6.0s -> 2.6s warm at sf0.1, 80-node graph)
            a = a.localCheckpoint()
            h = h.localCheckpoint()
    return h.join(a, "host").select("host", "hub", "authority")
