"""Frontier admission = URL-seen dedup, re-expressed set-based.

Reference semantics (cola/core/mq/__init__.py put path ~L60-120 +
cola/core/dedup.py exist_or_add ~L20-50): on every put, each non-force
unit is checked against the bloom seen-set and silently dropped if
present; force units bypass the check entirely (and are NOT added to
the seen set — exist_or_add is only called on the non-force branch).
Sequential put order decides which of two same-key units in one batch
survives (first wins).

Spark re-expression: one batch of candidate rows per round;
  * within-batch first-wins  → min_by(…, seq) per url_hash
  * not-seen-before          → left_anti join against the seen table
  * force branch             → unioned past both checks
The anti-join is the exact-correctness oracle; the approximate fast
path (partitioned cuckoo filter, cola's bloom analogue) lives in
cola_spark.filters.cuckoo and prunes the anti-join input at scale.

Scale notes: `seen` is the big table (10^10 rows design point). We keep
it hash-partitioned by pmod(url_hash, P) on disk so the per-round
anti-join shuffles only the (small) candidate side under AQE; the
window partitions by url_hash — high cardinality, no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cola_spark.functions.urls import canonicalize_url, host_of, path_of, url_hash_col
from cola_spark.session import _PINNED, pin

FRONTIER_COLS = [
    "url", "url_canon", "url_hash", "host", "path",
    "priority", "seq", "force", "error_times",
]

_PERSISTED = _PINNED  # perfbench's tracer reads admit_filtered's cogroup result as _PERSISTED[-1]


def prepare_frontier(raw: DataFrame) -> DataFrame:
    """Normalize raw (url, priority, seq, force) rows into the frontier
    schema: canonical URL, xxhash64 key, host, path; drops unparseable
    URLs (canon null) — the 100 TB-scale reality is malformed URLs exist.
    """
    df = raw.withColumn("url_canon", canonicalize_url(F.col("url")))
    df = df.filter(F.col("url_canon").isNotNull())
    df = (
        df.withColumn("url_hash", url_hash_col(F.col("url_canon")))
        .withColumn("host", host_of(F.col("url_canon")))
        .withColumn("path", path_of(F.col("url_canon")))
    )
    if "error_times" not in df.columns:
        df = df.withColumn("error_times", F.lit(0))
    return df.select(*FRONTIER_COLS)


def admit(candidates: DataFrame, seen: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dedup one batch of candidates against the seen set (exact mode).

    Returns (admitted, newly_seen_hashes). ``seen`` is a DataFrame with
    a single ``url_hash`` column. Force rows pass unchecked and do not
    enter ``seen`` (cola force semantics).

    Within-batch first-wins is a min_by(col, seq) aggregate per
    url_hash (seq is globally unique, so first-by-seq is deterministic)
    — an aggregate, NOT a row_number window: map-side partial combine,
    no full (url_hash, seq) sort. Measured on the 2M-row bench
    admission: min_by 1.83s vs window 2.06s vs min(struct) 2.73s at
    local[32], best 8→32 scaling of the three (0.69). CAVEAT: min_by's
    aggregation buffer holds STRING payload columns, so the planner
    falls back to SortAggregate — the plan still pays partial+final
    sorts of the full-width rows. A sort-free hash-agg + join-back
    shape measured slower (BENCH/BASELINE.md, "Deleted shapes").
    """
    nonforce = candidates.filter(~F.col("force"))
    rest = [c for c in nonforce.columns if c != "url_hash"]
    first = (
        nonforce.groupBy("url_hash")
        .agg(*[F.min_by(c, "seq").alias(c) for c in rest])
        .select(*nonforce.columns)
    )
    fresh = first.join(seen.select("url_hash"), "url_hash", "left_anti")
    admitted = candidates.filter(F.col("force")).unionByName(fresh)
    return admitted, fresh.select("url_hash")


def admit_filtered(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    n_parts: int = 32,
    capacity_per_part: int = 1 << 18,
    mode: str = "hybrid",
    filter_cls=None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Cuckoo/Bloom-filter admission — the scale path.

    candidates are routed to P partitions by pmod(url_hash, P); each
    partition queries/updates its own filter blob locally via a
    cogrouped applyInPandas — the seen *set* never shuffles.

      mode="hybrid": filter-positive rows ("suspects": true dups + rare
        FPs) are verified against the exact seen table; semantics are
        IDENTICAL to exact-mode admit (the filter only prunes the
        anti-join input from |candidates| down to ~|dups| + FP·|new|).
      mode="cuckoo": suspects are dropped unverified — cola's bloom
        semantics (may drop a never-seen URL, never re-admits a seen
        one); no exact seen table is maintained at all.

    Returns (admitted, new_seen_hashes, new_filter_blobs). Only blobs of
    partitions that saw candidates are emitted — the caller keeps the
    latest blob per part (delta layout).

    ``filter_cls`` plugs the per-partition membership structure: the
    default CuckooFilter, or filters.bloom.BloomFilter (the reference's
    literal bloom semantics — cola/core/bloomfilter.py). Both share the
    contains/add/to_bytes/from_bytes contract and the never-false-
    negative guarantee; a run must keep one class per filter-state
    lineage (the blobs are format-tagged and refuse cross-loading).
    """
    if filter_cls is None:
        from cola_spark.filters.cuckoo import CuckooFilter as filter_cls
    cand = candidates.withColumn("part", F.pmod(F.col("url_hash"), F.lit(n_parts)).cast("int"))
    out_schema = (
        "url string, url_canon string, url_hash long, host string, path string,"
        " priority int, seq long, force boolean, error_times int,"
        " part int, suspect boolean, blob binary"
    )
    drop_suspects = mode == "cuckoo"

    def per_part(key, cand_pdf, filt_pdf):
        import numpy as np
        import pandas as pd

        if len(cand_pdf) == 0:
            # partition has a filter but no candidates: emit nothing,
            # the old blob stays current (delta layout keeps latest)
            empty = cand_pdf.assign(suspect=pd.Series(dtype=bool), blob=pd.Series(dtype=object))
            return empty
        if len(filt_pdf):
            f = filter_cls.from_bytes(bytes(filt_pdf["blob"].iloc[0]))
        else:
            f = filter_cls(capacity_per_part)
        cand_pdf = cand_pdf.sort_values("seq", kind="mergesort")
        force = cand_pdf[cand_pdf["force"]]
        nonforce = cand_pdf[~cand_pdf["force"]]
        first = nonforce.drop_duplicates(subset="url_hash", keep="first")
        hashes = first["url_hash"].to_numpy(dtype=np.int64)
        pos = f.contains(hashes)
        new = first[~pos]
        f.add(np.sort(new["url_hash"].to_numpy(dtype=np.int64)))
        rows = [force.assign(suspect=False), new.assign(suspect=False)]
        if not drop_suspects:
            rows.append(first[pos].assign(suspect=True))
        out = pd.concat(rows, ignore_index=True)
        blob_row = pd.DataFrame(
            [{c: None for c in out.columns} | {"part": key[0], "blob": f.to_bytes()}]
        )
        out["blob"] = None
        return pd.concat([out, blob_row], ignore_index=True)

    res = pin(  # consumed by 2-3 branches below; deterministic either way
        cand.groupBy("part")
        .cogroup(filters.groupBy("part"))
        .applyInPandas(per_part, out_schema)
    )
    new_filters = res.filter(F.col("blob").isNotNull()).select("part", "blob")
    sure = res.filter(F.col("blob").isNull() & ~F.col("suspect")).select(*FRONTIER_COLS)
    if drop_suspects:
        return sure, sure.filter(~F.col("force")).select("url_hash"), new_filters
    suspects = res.filter(F.col("blob").isNull() & F.col("suspect")).select(*FRONTIER_COLS)
    rescued = suspects.join(seen.select("url_hash"), "url_hash", "left_anti")
    admitted = sure.unionByName(rescued)
    return admitted, admitted.filter(~F.col("force")).select("url_hash"), new_filters


def relational_bloom_gate(
    seen: DataFrame,
    cands: DataFrame,
    key_col: str,
    m_bits: int = 1 << 17,
    k: int = 3,
    n_parts: int = 8,
    hash_kind: str = "md5",
    broadcast: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Bloom membership expressed RELATIONALLY: the partitioned bit
    array is the distinct-(part, pos) relation of the seen set's k hash
    positions, and a candidate is bloom-positive iff ALL of its k
    positions exist — exactly the arithmetic filters.bloom.BloomFilter
    packs into per-partition numpy blobs, kept as rows so an ANSI-SQL
    engine can replay it bit-for-bit (the cross-engine oracle of the
    blob fast path; cola/core/bloomfilter.py semantics).

    ``m_bits`` is the PER-PARTITION bit space (each of the n_parts
    partitions owns an independent m_bits-wide array, matching the
    blob layout); total bit budget = m_bits * n_parts. Size it so the
    per-partition fill (k * |seen| / n_parts / m_bits) sits near ~10%
    for a sub-0.2% FP rate at k=3.

    Returns (bits, gated): ``bits`` is the (part, pos) bit relation —
    3x|seen| rows, hash-partitioned by its own key, buildable once and
    reused across rounds (append-only: new seen keys only ADD rows,
    the bloom OR) — and ``gated`` has one row per distinct candidate
    key with maybe_seen / actually_seen / false_pos flags. Never
    false-negative by construction: actually_seen ⇒ all k positions
    present ⇒ maybe_seen.

    Scale shape: probe = one equi-join of 3x|cands| position rows
    against the bits relation co-partitioned on (part, pos), then a
    key-grouped count — no window, and with the default
    broadcast=False the seen-derived sides (bits, the actually_seen
    lookup) carry shuffle_hash hints so the 10^10-row seen set is
    NEVER broadcast-built (Catalyst's size estimate would otherwise
    broadcast it at test scale and OOM at production scale; the same
    knob pattern as robots_gate/broadcast_caps — plan test-pinned).
    broadcast=True opts small fixed seen sets into broadcast joins.
    hash_kind="md5" is the DuckDB-replayable family; "xxhash64" is the
    production JVM-intrinsic path (identical plan shape).
    """
    from cola_spark.operators.textdedup import hash_family

    h = hash_family(hash_kind)

    def positions(df: DataFrame) -> DataFrame:
        key = F.col(key_col)
        return df.select(
            key,
            F.pmod(h(key, "blp"), F.lit(n_parts)).alias("part"),
            F.explode(
                F.array(*[
                    F.pmod(h(key, f"bl{j}"), F.lit(m_bits)) for j in range(k)
                ])
            ).alias("pos"),
        )

    seen_k = seen.select(key_col).distinct()
    cand_k = cands.select(key_col).distinct()
    bits = positions(seen_k).select("part", "pos").distinct()
    probe = positions(cand_k).distinct()

    def big(df: DataFrame) -> DataFrame:
        return df if broadcast else df.hint("shuffle_hash")

    # left join keeps probe's pos column; detect match via a marker col
    marked = probe.join(
        big(bits.withColumn("_m", F.lit(1))), ["part", "pos"], "left"
    )
    agg = marked.groupBy(key_col).agg(
        (F.count("*") == F.sum(F.coalesce(F.col("_m"), F.lit(0)))).alias(
            "maybe_seen"
        )
    )
    gated = (
        agg.join(
            big(seen_k.withColumn("_s", F.lit(True))), key_col, "left"
        )
        .select(
            key_col,
            "maybe_seen",
            F.coalesce(F.col("_s"), F.lit(False)).alias("actually_seen"),
            (F.col("maybe_seen") & F.coalesce(~F.col("_s"), F.lit(True))).alias(
                "false_pos"
            ),
        )
    )
    return bits, gated


def resolve_redirects(
    frontier: DataFrame,
    redirects: DataFrame,
    max_hops: int = 3,
    url_col: str = "url",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Redirect-chain resolution (round 5): dedup and politeness must
    key on the FINAL URL — a frontier that treats 301 hops as distinct
    pages re-fetches every alias of a page and splits its budget
    accounting across them (the reference's opener follows redirects
    implicitly inside urllib; a declarative frontier has to resolve
    them as data). Bounded iterative join, the unrolled-iteration
    shape (host_pagerank / AIMD): hop t left-joins the current target
    against the redirect edge table; rows that moved increment hops.
    A chain longer than max_hops, or a redirect cycle, is flagged
    unresolved (is_cycle) — production crawlers drop those.

    Output: (url, final_url, hops, is_cycle). is_cycle is TRUE when
    after max_hops the current target STILL redirects (covers both
    true cycles and over-long chains — indistinguishable under a hop
    budget, deliberately).

    Scale: the edge table is redirect-scale (≪ frontier); each hop is
    one url-keyed equi-join (co-partitioned on the current target) —
    max_hops exchanges total, no window, no driver loop state."""
    r = redirects.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    cur = frontier.select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("final_url"),
        F.lit(0).cast("long").alias("hops"),
    )
    for _ in range(max_hops):
        cur = (
            cur.join(
                r.hint("shuffle_hash"),
                cur["final_url"] == r["_src"],
                "left",
            )
            .select(
                "url",
                F.coalesce("_dst", "final_url").alias("final_url"),
                (
                    F.col("hops")
                    + F.col("_dst").isNotNull().cast("long")
                ).alias("hops"),
            )
        )
    # still redirecting after the budget -> unresolved/cycle
    out = cur.join(
        r.hint("shuffle_hash"), cur["final_url"] == r["_src"], "left"
    ).select(
        "url",
        "final_url",
        "hops",
        F.col("_src").isNotNull().alias("is_cycle"),
    )
    return out
