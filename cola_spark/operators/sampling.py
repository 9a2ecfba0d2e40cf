"""Deterministic stratified (domain-mix) sampling.

Training corpora are mixed to target weights per stratum (language,
source domain, quality bucket): "keep 60% of en, 25% of everything
else". At 100 TB the sample must be (a) a pure map-side filter — no
shuffle, no global count pass — and (b) exactly reproducible across
reruns and engines, so downstream stages can be re-executed
independently and still see the same corpus.

No reference analogue — cola (SURVEY.md §2) schedules URLs; mixture
sampling is a training-data step layered on the crawled corpus.

Both properties come from hashing the stable document key into one of
1000 permille buckets and keeping buckets below the stratum's rate:
  * deterministic: same key → same bucket, forever, on any engine
    (the "md5" family is bit-identical in DuckDB, so the full sample
    is SQL-oracle-able; "xxhash64" is the JVM scale default);
  * map-side: rates are config-sized — a literal CASE map, or a
    broadcast join if they live in a table; zero corpus shuffles;
  * composable: a later rate increase from r1 to r2 keeps every doc of
    the r1 sample (buckets are nested), so incremental top-ups ship
    only the delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cola_spark.operators.textdedup import hash_family
from cola_spark.session import materialize


def permille_bucket(key_col, hash_kind: str = "xxhash64", seed: str = "samp"):
    """Stable bucket in [0, 1000) from a document key column."""
    h = hash_family(hash_kind)(key_col.cast("string"), seed)
    return F.pmod(h, F.lit(1000)).cast("long")

def stratified_sample(
    docs: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int = 0,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Keep each doc iff its permille bucket < its stratum's rate.

    Returns the kept rows as (doc_id, stratum, bucket) — the exact,
    rerun-stable sample membership table.
    """
    bucket = permille_bucket(F.col(key_col), hash_kind=hash_kind)
    rate = F.lit(default_permille)
    for k, v in sorted(rates_permille.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(int(v))).otherwise(rate)
    return (
        docs.select(
            F.col(key_col).alias("doc_id"),
            F.col(strata_col).alias("stratum"),
            bucket.alias("bucket"),
            rate.alias("_rate"),
        )
        .filter(F.col("bucket") < F.col("_rate"))
        .drop("_rate")
    )


def token_budget_mix(
    docs: DataFrame,
    weights: dict[str, int],
    budget_tokens: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    hash_kind: str = "xxhash64",
    seed: str = "mix",
    parts: int | None = None,
) -> DataFrame:
    """Token-budget mixture selection — the trainer corpus-mixing step
    stratified_sample can't express: targets are TOKEN counts, not doc
    rates ("2B tokens of web, 1B of code"), so selection is a running
    sum cut, not a map-side bucket filter. Each source's docs are laid
    out in a deterministic hash order (same md5/xxhash64 family as the
    permille sampler — rerun- and engine-stable) and selected while
    the source's running token total is below its share of
    budget_tokens (integer split by ``weights``; greedy fill, so the
    boundary doc may overshoot by part of itself — the GPT-style
    concat-and-chunk packer downstream absorbs the tail).

    Returns the COMPLETE decision table, one row per input doc:
    (doc_id, source, n_tok, src_rank, cum_before, budget_tok,
    selected) — every selected doc carries its evidence, every skipped
    doc says why (over-budget position or zero-weight source).

    Scale design — the per-source running sum is the global-window
    scale bug wearing a stratum mask (one task per source would stream
    10^10/|sources| rows), so this is the ranking.global_rank two-phase
    form, SEGMENTED: range-partition by (source, hash, id), local
    cumsum + rank per (partition, source), then per-source offsets
    from the partition aggregates (a |P|x|sources|-row frame — config
    scale, broadcast). The ranged projection is persisted so both
    subtrees read ONE RangePartitioner sample (ranking.py's measured
    determinism trap), then ``session.materialize``-d (the one-shot
    close). Weights/budgets are a genuine config-size
    dim: broadcast joins are the rule here."""
    lay = _hash_layout(docs, id_col, source_col, text_col, hash_kind, seed, parts)
    bud = _budget_frame(docs.sparkSession, weights, budget_tokens)
    return lay.join(F.broadcast(bud), "source", "left").select(
        "doc_id",
        "source",
        "n_tok",
        "src_rank",
        "cum_before",
        F.coalesce(F.col("budget_tok"), F.lit(0)).cast("long").alias("budget_tok"),
    ).withColumn("selected", F.col("cum_before") < F.col("budget_tok"))


def _budget_frame(spark, weights: dict[str, int], budget_tokens: int) -> DataFrame:
    """(source, budget_tok): the integer split of budget_tokens by
    weight — config-scale, always broadcast."""
    total_w = sum(int(w) for w in weights.values())
    buds = [
        (s, int(budget_tokens) * int(w) // total_w)
        for s, w in sorted(weights.items())
    ]
    return spark.createDataFrame(buds, "source string, budget_tok long")


def _hash_layout(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    hash_kind: str,
    seed: str,
    parts: int | None,
) -> DataFrame:
    """(doc_id, source, n_tok, src_rank, cum_before): the deterministic
    per-source hash-order layout with the SEGMENTED two-phase running
    sum (see token_budget_mix's docstring for the scale argument).
    Returned eagerly localCheckpoint-ed: both the offsets and rank
    subtrees have read ONE RangePartitioner draw, and consumers
    (budget cut, epoch repeat) join onto materialized blocks."""
    spark = docs.sparkSession
    h = hash_family(hash_kind)(F.col(id_col).cast("string"), seed)
    ntok = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long")
    from cola_spark.operators.textdedup import spread_small_scan

    base = spread_small_scan(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        ntok.alias("n_tok"),
        h.alias("_h"),
    )
    parts = parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = base.repartitionByRange(
        parts, F.col("source"), F.col("_h"), F.col("doc_id")
    ).withColumn("_pid", F.spark_partition_id())
    ranged = ranged.persist()
    ps = ranged.groupBy("_pid", "source").agg(
        F.sum("n_tok").alias("_s"), F.count("*").alias("_c")
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = ps.select(
        "_pid",
        "source",
        F.coalesce(F.sum("_s").over(w_off), F.lit(0)).cast("long").alias("_tok_off"),
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).cast("long").alias("_cnt_off"),
    )
    w_local = Window.partitionBy("_pid", "source").orderBy("_h", "doc_id")
    w_before = w_local.rowsBetween(Window.unboundedPreceding, -1)
    out = (
        ranged.withColumn(
            "_lc", F.coalesce(F.sum("n_tok").over(w_before), F.lit(0))
        )
        .withColumn("_lr", F.row_number().over(w_local))
        .join(F.broadcast(offsets), ["_pid", "source"])
        .select(
            "doc_id",
            "source",
            "n_tok",
            (F.col("_cnt_off") + F.col("_lr")).cast("long").alias("src_rank"),
            (F.col("_tok_off") + F.col("_lc")).cast("long").alias("cum_before"),
        )
    )
    return materialize(out, [ranged])


def epoch_repeat_mix(
    docs: DataFrame,
    weights: dict[str, int],
    budget_tokens: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    hash_kind: str = "xxhash64",
    seed: str = "mix",
    parts: int | None = None,
) -> DataFrame:
    """Repeat-factor (epoch) mixture — the UPSAMPLING counterpart of
    token_budget_mix: when a source's token budget exceeds its mass
    ("4 epochs of wiki"), every doc repeats for each full pass and the
    remainder is a partial pass filled greedily in the same
    deterministic hash order. n_epochs per doc = budget div mass
    (+1 if the doc's cum_before < budget mod mass) — so
    sum(n_tok · n_epochs) tracks the budget to within one boundary doc
    per source, and epoch 0's membership is EXACTLY token_budget_mix's
    selection for budgets below the mass.

    Returns one row per input doc (no explode — the repeat count IS
    the decision): (doc_id, source, n_tok, src_rank, cum_before,
    budget_tok, mass_tok, n_epochs).

    Scale: the layout is the shared segmented two-phase cumsum; the
    per-source mass is one map-side-combinable groupBy whose output is
    |sources| rows — genuinely config-scale, broadcast by the
    small-dim rule."""
    lay = _hash_layout(docs, id_col, source_col, text_col, hash_kind, seed, parts)
    bud = _budget_frame(docs.sparkSession, weights, budget_tokens)
    per_src = (
        lay.groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("mass_tok"))
        .join(F.broadcast(bud), "source", "left")
        .select(
            "source",
            "mass_tok",
            F.coalesce(F.col("budget_tok"), F.lit(0))
            .cast("long")
            .alias("budget_tok"),
        )
        .withColumn("_n_full", F.expr("budget_tok div mass_tok").cast("long"))
        .withColumn("_rem", F.expr("budget_tok % mass_tok").cast("long"))
    )
    return lay.join(F.broadcast(per_src), "source").select(
        "doc_id",
        "source",
        "n_tok",
        "src_rank",
        "cum_before",
        "budget_tok",
        "mass_tok",
        (
            F.col("_n_full")
            + F.when(F.col("cum_before") < F.col("_rem"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_epochs"),
    )


def audit_sample(
    docs: DataFrame,
    k: int,
    stratum_col: str,
    key_col: str = "doc_id",
    hash_kind: str = "xxhash64",
) -> DataFrame:
    """Fixed-k-per-stratum deterministic QA sample: each stratum's k
    members with the smallest (hash(key), key) — the 'pull 5 docs per
    domain for human review' operation every curation pipeline runs.

    Rate sampling (permille_bucket / stratified_sample above) scales
    output with stratum mass, which is exactly wrong for audits: the
    Zipf-head domain would contribute thousands of rows and the tail
    none. Hashing the key and keeping the k smallest is a
    deterministic k-sample per stratum — membership is a pure function
    of (corpus, k), rerun- and engine-stable, and unbiased w.r.t. any
    content property (the hash is independent of the columns under
    audit).

    Scale shape: rank <= k over a stratum-partitioned window. Spark's
    WindowGroupLimit rewrite (the rank-limit pushdown) applies the k
    cut map-side BEFORE the stratum exchange, so a Zipf-hot stratum
    ships at most k rows per input partition instead of its full mass;
    the post-shuffle work is k * n_partitions per stratum, never
    corpus-scale. md5 family for the DuckDB twin (queries.py
    `audit_sample`)."""
    h = hash_family(hash_kind)(F.col(key_col).cast("string"), "audit")
    w = Window.partitionBy(stratum_col).orderBy(
        h.asc(), F.col(key_col).asc()
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def priority_sample(
    items: DataFrame,
    k: int = 20,
    key_col: str = "host",
    weight_col: str = "w",
    hash_kind: str = "md5",
    m_bits: int = 20,
) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007): a weighted
    k-sample without replacement with unbiased subset-sum estimators —
    the WEIGHTED member of the sampling family (stratified_sample =
    uniform-per-stratum rates, audit_sample = fixed k per stratum,
    token_budget_mix = budget fill; this one picks keys in proportion
    to a weight, e.g. QA-sample hosts by queue depth or yield).

    Each key gets priority q = (w << m_bits) DIV (h + 1) with h a
    seeded md5-family hash in [0, 2^m_bits) standing in for the
    uniform draw (q >= w always); the sample is the top k by
    (q DESC, key), the threshold tau is the (k+1)-th priority, and the
    estimator w_hat = max(w, tau) makes Σ w_hat over any key subset an
    unbiased estimate of its true weight sum over the hash draw.
    Population <= k degenerates to take-all with tau = 0, w_hat = w
    (the scheme's exact-regime).

    Scale: priorities are one map-side projection over the key-scale
    input (one row per key — aggregate first if the input is
    event-grained); the top-(k+1) cut is orderBy+limit, which Spark
    compiles to TakeOrderedAndProject (per-partition partial top-k,
    then a k+1-row merge — never a global sort); everything after the
    cut is config-scale (a rank window over <= k+1 rows, a 1-row
    broadcast tau). Integer-exact, so the DuckDB oracle replays
    selection, threshold and estimators bit-for-bit. Overflow: w *
    2^m_bits must fit a BIGINT, so m_bits=20 caps w at 2^43 —
    frontier queue depths and yields sit far below; smaller m_bits =
    coarser uniform grid (ties more likely, broken by key).

    Output, one row per SELECTED key: (key, w, q, sample_rank, tau,
    w_hat) — the sample plus its evidence and estimator.
    """
    two_m = 1 << m_bits
    pri = (
        items.select(
            F.col(key_col),
            F.col(weight_col).cast("long").alias("w"),
        )
        .withColumn(
            "_h",
            F.pmod(
                hash_family(hash_kind)(F.col(key_col).cast("string"), "psamp"),
                F.lit(two_m),
            ),
        )
        .withColumn(
            "q", F.expr(f"(w * CAST({two_m} AS BIGINT)) DIV (_h + 1)")
        )
        .drop("_h")
    )
    top = pri.orderBy(F.col("q").desc(), F.col(key_col).asc()).limit(k + 1)
    w_rank = Window.orderBy(F.col("q").desc(), F.col(key_col).asc())
    ranked = top.withColumn(
        "sample_rank", F.row_number().over(w_rank).cast("long")
    )
    tau = ranked.groupBy().agg(
        F.coalesce(
            F.max(F.when(F.col("sample_rank") == k + 1, F.col("q"))),
            F.lit(0),
        )
        .cast("long")
        .alias("tau")
    )
    return (
        ranked.filter(F.col("sample_rank") <= k)
        .crossJoin(F.broadcast(tau))
        .withColumn("w_hat", F.greatest(F.col("w"), F.col("tau")).cast("long"))
    )


def isqrt_col(v) -> F.Column:
    """Exact integer square root of a non-negative BIGINT column,
    engine-portable. FLOOR(SQRT(x)) alone is NOT exact: IEEE sqrt is
    correctly rounded, so for x just below (k+1)^2 the rounded double
    can land ON k+1 and floor overshoots by one. Guarding both
    directions makes the result isqrt(x) exactly, in Spark and in any
    ANSI engine (the oracle uses the same three-step form), for any
    x < 2^52 (beyond that the initial double estimate can be off by
    more than one). Used by temperature_alloc; callers keep inputs
    under 2^52 by choosing PREC."""
    g0 = F.floor(F.sqrt(F.col(v) if isinstance(v, str) else v)).cast("long")
    x = F.col(v) if isinstance(v, str) else v
    g1 = g0 - F.when(g0 * g0 > x, F.lit(1)).otherwise(F.lit(0))
    return (
        g1 + F.when((g1 + 1) * (g1 + 1) <= x, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")


def temperature_alloc(
    stats: DataFrame,
    capacity: int,
    stratum_col: str = "stratum",
    n_col: str = "n_docs",
    prec: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled mixture allocation, alpha = 1/2 — the
    multilingual rebalancing rule (p_l proportional to n_l^alpha,
    XLM-R / mT5 style): big strata are down-weighted, small strata
    up-weighted, between proportional (alpha=1) and uniform (alpha=0).

    No reference analogue — cola schedules URLs; corpus mixing is the
    training-data layer above it. alpha = 1/2 is the one temperature
    with an EXACT integer form: weight_l = isqrt(n_l * prec), every
    term floor-exact (isqrt_col), so the whole allocation — weights,
    largest-remainder grants, per-stratum sampling permille — is
    bit-reproducible in the DuckDB oracle. General alpha = p/q needs
    float pow; it would break the cross-engine hash and is deliberately
    not offered here.

    Output (stratum, n_docs, weight, granted, sample_permille):
    SUM(granted) == capacity exactly (largest-remainder, remainder DESC
    then stratum ASC tiebreak — the yield_alloc discipline);
    sample_permille = (1000 * granted) DIV n_docs, the per-stratum keep
    rate a downstream permille_bucket filter applies map-side.

    Scale shape: stats is a stratum-scale frame (one corpus groupBy
    upstream); everything here is stratum-scale — one broadcast 1-row
    total, one two-phase global rank. The corpus never enters."""
    from cola_spark.operators.ranking import global_rank

    w = stats.select(
        F.col(stratum_col).alias("stratum"),
        F.col(n_col).cast("long").alias("n_docs"),
    ).withColumn("weight", isqrt_col(F.col("n_docs") * F.lit(int(prec))))
    tot = w.agg(F.sum("weight").cast("long").alias("_tw"))
    g = w.crossJoin(F.broadcast(tot)).select(
        "*",
        F.expr(f"({int(capacity)} * weight) DIV _tw").alias("_base"),
        F.expr(f"({int(capacity)} * weight) % _tw").alias("_rem"),
    )
    ranked = global_rank(
        g.withColumn("_negrem", -F.col("_rem")),
        ["_negrem", "stratum"],
        out_col="_rk",
        eager_release=True,
    )
    leftover = g.agg(
        (F.lit(int(capacity)) - F.sum("_base")).cast("long").alias("_left")
    )
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .select(
            "stratum",
            "n_docs",
            "weight",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_left"), 1).otherwise(0)
            )
            .cast("long")
            .alias("granted"),
        )
        .withColumn(
            "sample_permille",
            F.expr("(1000 * granted) DIV n_docs").cast("long"),
        )
    )
