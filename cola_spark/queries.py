"""Operator → (Spark DataFrame impl, DuckDB oracle SQL) registry.

This is the driver-contract surface (__spark_entry__.py): every
scheduler operator from SURVEY.md §2 demonstrated on the driver's
parquet tables so DuckDB can act as the independent oracle, plus the
training-data-pipeline operators (dedup family, similarity search, text
analysis, multimodal plumbing) over documents/embeddings.

Cross-engine determinism rules (hard-won):
  * compared outputs carry only BIGINT / STRING / BOOLEAN / TIMESTAMP —
    floats are kept out of value-hashed columns (money → integer cents
    via FLOOR(x*100): DuckDB CAST(double AS BIGINT) *rounds* while
    Spark's cast truncates — FLOOR agrees everywhere);
  * Spark row_number()/size() return INT → cast to BIGINT to match
    DuckDB; DuckDB SUM(BIGINT) returns HUGEINT → CAST back to BIGINT;
  * join keys are raw columns, never xxhash64 (DuckDB lacks it);
  * regex kept to the POSIX-compatible intersection of Java regex and
    RE2; DuckDB regexp_replace needs the 'g' flag to match Spark's
    replace-all default.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cola_spark.session import materialize, memo


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Near-dup pair list, computed ONCE per (session, documents input) and
# shared by every consumer (the prefix query itself, dedup_clusters,
# corpus_clean, the corpus mixes): prefix_jaccard_pairs returns an
# eagerly-materialized (localCheckpoint) frame, so handing consumers
# the SAME object means they read its blocks instead of re-running the
# whole shingle→prefix→verify pipeline — the production shape (a
# corpus snapshot's pair list is built once, then consumed by keep-set,
# clustering and mix stages). ``session.memo`` keys it by the documents
# frame's plan and files, so an overwritten corpus recomputes.
def shared_prefix_pairs(spark, sf) -> DataFrame:
    from cola_spark.operators.textdedup import prefix_jaccard_pairs

    docs = _t(spark, sf, "documents")
    return memo(docs, "prefix_pairs", (), lambda: prefix_jaccard_pairs(docs))


# ---------------------------------------------------------------- scheduler ops


def q_dedup_anti_join(spark, sf):
    """SURVEY §2 row 10/14 — seen-set dedup as left-anti equi-join."""
    li = _t(spark, sf, "lineitem")
    seen = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return li.join(seen, "l_orderkey", "left_anti").select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.col("l_quantity").cast("long").alias("qty"),
    )


SQL_DEDUP = """
SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS linenumber,
       CAST(l_quantity AS BIGINT) AS qty
FROM lineitem li
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = li.l_orderkey AND o.o_orderstatus = 'F')
"""


def q_priority_fifo_order(spark, sf):
    """SURVEY §2 row 24 — priority-MQ ordering: FIFO within priority."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderpriority", "o_orderkey")
    return _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).cast("long").alias("host_rank"),
    )


SQL_PRIORITY = """
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderpriority, o_orderkey) AS host_rank
FROM orders
"""


def q_budget_topk_cut(spark, sf):
    """SURVEY §2 rows 21/25 — per-key budget cut + round assignment."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderpriority", "o_orderkey")
    return (
        _t(spark, sf, "orders")
        .withColumn("host_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("host_rank") <= 9)
        .select(
            "o_custkey", "o_orderkey", "host_rank",
            F.floor((F.col("host_rank") - 1) / 3).alias("round_no"),
        )
    )


SQL_TOPK = """
WITH r AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderpriority, o_orderkey) AS host_rank
  FROM orders)
SELECT o_custkey, o_orderkey, host_rank,
       CAST(FLOOR((host_rank - 1) / 3) AS BIGINT) AS round_no
FROM r WHERE host_rank <= 9
"""


def q_counter_rollup(spark, sf):
    """SURVEY §2 row 20 — CounterServer partial+final aggregation."""
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("sum_price_cents"),
            F.max(F.col("l_quantity").cast("long")).alias("max_qty"),
            F.min(F.col("l_quantity").cast("long")).alias("min_qty"),
            F.count("*").alias("n"),
        )
    )


SQL_COUNTER = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       MAX(CAST(l_quantity AS BIGINT)) AS max_qty,
       MIN(CAST(l_quantity AS BIGINT)) AS min_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_rate_window(spark, sf):
    """SURVEY §2 row 22 — per-minute rate window (speed control)."""
    return (
        _t(spark, sf, "events")
        .groupBy(
            F.date_trunc("minute", F.col("ts")).alias("minute"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
        )
    )


SQL_RATE = """
SELECT date_trunc('minute', ts) AS minute, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2
"""


def q_pattern_dispatch(spark, sf):
    """SURVEY §2 row 9 — UrlPatterns regex dispatch → parser_id."""
    p = _t(spark, sf, "part")
    parser = (
        F.when(F.col("p_type").rlike("ECONOMY"), 1)
        .when(F.col("p_type").rlike("PROMO"), 2)
        .when(F.col("p_type").rlike("STANDARD"), 3)
        .otherwise(0)
    )
    return p.select("p_partkey", "p_type", parser.cast("long").alias("parser_id"))


SQL_PATTERN = """
SELECT p_partkey, p_type,
       CAST(CASE WHEN regexp_matches(p_type, 'ECONOMY') THEN 1
                 WHEN regexp_matches(p_type, 'PROMO') THEN 2
                 WHEN regexp_matches(p_type, 'STANDARD') THEN 3
                 ELSE 0 END AS BIGINT) AS parser_id
FROM part
"""


def q_retry_requeue(spark, sf):
    """SURVEY §2 row 28 — failed rows bumped and unioned back."""
    ev = _t(spark, sf, "events")
    ok = ev.filter(F.col("event_type") != "error").select(
        "user_id", F.lit(0).cast("long").alias("error_times")
    )
    failed = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.lit(1).cast("long").alias("error_times")
    )
    return (
        ok.unionByName(failed)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("error_times").alias("n_retried"))
    )


SQL_RETRY = """
SELECT user_id, COUNT(*) AS n_events, CAST(SUM(error_times) AS BIGINT) AS n_retried
FROM (SELECT user_id, 0 AS error_times FROM events WHERE event_type <> 'error'
      UNION ALL
      SELECT user_id, 1 AS error_times FROM events WHERE event_type = 'error')
GROUP BY user_id
"""


def q_finished_removal(spark, sf):
    """SURVEY §2 row 29 — destructive pop: frontier minus done set."""
    o = _t(spark, sf, "orders")
    done = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey")
    return o.join(done, "o_orderkey", "left_anti").select("o_orderkey", "o_orderstatus")


SQL_FINISHED = """
SELECT o_orderkey, o_orderstatus FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM orders d
                  WHERE d.o_orderkey = o.o_orderkey AND d.o_orderstatus = 'O')
"""


def q_running_budget_total(spark, sf):
    """SURVEY §2 row 26 — monotone applied/finished running counters."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey",
        F.sum(F.floor(F.col("o_totalprice") * 100)).over(w).alias("run_cents"),
    )


SQL_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS run_cents
FROM orders
"""


def q_seen_cardinality(spark, sf):
    """SURVEY §2 row 23 — seen-set cardinality (exact)."""
    return _t(spark, sf, "lineitem").agg(
        F.countDistinct("l_orderkey").alias("n_distinct_orders"),
        F.countDistinct("l_partkey").alias("n_distinct_parts"),
        F.count("*").alias("n_rows"),
    )


SQL_CARD = """
SELECT COUNT(DISTINCT l_orderkey) AS n_distinct_orders,
       COUNT(DISTINCT l_partkey) AS n_distinct_parts,
       COUNT(*) AS n_rows
FROM lineitem
"""


def q_robots_gate(spark, sf):
    """SURVEY §2 row 11 — disallow-list gate as broadcast anti-join."""
    li = _t(spark, sf, "lineitem")
    blocked = (
        _t(spark, sf, "part")
        .filter(F.col("p_type").startswith("SMALL"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    return li.join(F.broadcast(blocked), "l_partkey", "left_anti").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )


SQL_ROBOTS = """
SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem li
WHERE NOT EXISTS (SELECT 1 FROM part p
                  WHERE p.p_partkey = li.l_partkey AND p.p_type LIKE 'SMALL%')
"""


def q_force_bypass(spark, sf):
    """SURVEY §2 row 13 — force branch unioned past the dedup gate."""
    o = _t(spark, sf, "orders")
    seen = (
        _t(spark, sf, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    force = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", F.lit(True).alias("forced")
    )
    normal = (
        o.filter(F.col("o_orderpriority") != "1-URGENT")
        .join(seen, "o_custkey", "left_anti")
        .select("o_orderkey", F.lit(False).alias("forced"))
    )
    return force.unionByName(normal)


SQL_FORCE = """
SELECT o_orderkey, TRUE AS forced FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey, FALSE AS forced FROM orders o
WHERE o_orderpriority <> '1-URGENT'
  AND NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
"""


# ------------------------------------------------- training-data pipeline ops


def q_docs_exact_dedup(spark, sf):
    """Exact dedup: hash-groupBy on content digest."""
    return (
        _t(spark, sf, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


SQL_DOC_DEDUP = """
SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_docs_token_count(spark, sf):
    """Token counting (whitespace tokenizer)."""
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_seen"),
    )


SQL_TOKENS = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_seen
FROM documents
"""


def q_docs_quality(spark, sf):
    """Quality scoring: length/stopword-ratio heuristics (integer-exact)."""
    d = _t(spark, sf, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    stop_hits = (
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), "the", ""))) / 3
    ).cast("long")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stopword_hits"),
        ((n_tokens >= 20) & (stop_hits > 0)).alias("is_quality"),
    )


SQL_QUALITY = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT)
         AS stopword_hits,
       (len(string_split_regex(trim(text), '\s+')) >= 20
        AND (length(text) - length(replace(text, 'the', ''))) / 3 > 0) AS is_quality
FROM documents
"""


def q_docs_classify(spark, sf):
    """Content classification via pattern rules (language-ID shaped)."""
    t = F.col("text")
    label = (
        F.when(t.contains("window") & t.contains("merge"), "analytic")
        .when(t.contains("customer"), "commerce")
        .otherwise("other")
    )
    return _t(spark, sf, "documents").select("doc_id", "lang", label.alias("topic"))


SQL_CLASSIFY = """
SELECT doc_id, lang,
       CASE WHEN text LIKE '%window%' AND text LIKE '%merge%' THEN 'analytic'
            WHEN text LIKE '%customer%' THEN 'commerce'
            ELSE 'other' END AS topic
FROM documents
"""


def q_docs_fingerprint(spark, sf):
    """Document fingerprinting: digest of whitespace-normalized text."""
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return _t(spark, sf, "documents").select(
        "doc_id", F.md5(norm.cast("binary")).alias("fingerprint")
    )


SQL_FINGERPRINT = r"""
SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def _shingles(doc):
    """(doc_id, shingle) exploded distinct word-3-gram shingles."""
    words = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(words, i), F.element_at(words, i + 1), F.element_at(words, i + 2)
        ),
    )
    return (
        doc.filter(F.size(words) >= 3)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def q_ngram_jaccard_pairs(spark, sf):
    """Near-dup detection: exact word-3-gram Jaccard ≥ 0.2 pairs."""
    # the shingle explode feeds the self-join (twice) + the size agg;
    # materialize below frees it once the pair list is computed;
    # the scan is spread first or the explode runs on one core
    from cola_spark.operators.textdedup import spread_small_scan

    sh = _shingles(spread_small_scan(_t(spark, sf, "documents"))).persist()
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        pairs.join(sza, "doc_a").join(szb, "doc_b")
        .filter(F.col("common") * 10 >= 2 * (F.col("na") + F.col("nb") - F.col("common")))
        .select("doc_a", "doc_b", "common", "na", "nb")
    )
    return materialize(out, [sh])


SQL_JACCARD = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
       FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, common, sa.n_sh AS na, sb.n_sh AS nb
FROM pairs
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE common * 10 >= 2 * (sa.n_sh + sb.n_sh - common)
"""


def q_docs_repetition(spark, sf):
    """Within-doc repetition scoring (Gopher-style quality signal):
    per-mille of NON-distinct word 3-grams and the top gram's share —
    high values flag boilerplate/spam for training-data filtering.
    Integer-exact arithmetic ((1000*x) div total) so the cut is
    engine-stable; docs under 3 words are excluded like the shingle
    ops. The scan is spread before the gram fan-out — a small parquet
    input otherwise serializes the whole explode onto one core."""
    from cola_spark.operators.textdedup import spread_small_scan

    d = spread_small_scan(_t(spark, sf, "documents"))
    words = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(0)))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(words, i), F.element_at(words, i + 1), F.element_at(words, i + 2)
        ),
    )
    grams = d.filter(F.size(words) >= 3).select(
        "doc_id", F.explode(gram).alias("gram")
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
        .select(
            "doc_id", "n_grams", "n_distinct",
            F.expr("(1000 * (n_grams - n_distinct)) div n_grams").alias("dup_permille"),
            F.expr("(1000 * top_c) div n_grams").alias("top_gram_permille"),
        )
    )


SQL_REPETITION = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      WHERE len(ws) >= 3),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams, COUNT(*) AS n_distinct,
       CAST((1000 * (SUM(c) - COUNT(*))) // SUM(c) AS BIGINT) AS dup_permille,
       CAST((1000 * MAX(c)) // SUM(c) AS BIGINT) AS top_gram_permille
FROM pg GROUP BY doc_id
"""


def q_dedup_clusters(spark, sf):
    """Dedup keep-set: connected components over the exact Jaccard ≥ 0.2
    near-dup pairs; cluster_id = minimum reachable doc_id; keep=true
    for the representative. Spark side is iterative min-label
    propagation (operators/clusters.py); the oracle closes the graph
    with a recursive CTE — same fixpoint, different mechanics. Pairs
    come from the prefix-filtered exact join (identical result set to
    the all-pairs form — equality-tested — and the scale path)."""
    from cola_spark.operators.clusters import dedup_keep_set

    return dedup_keep_set(q_jaccard_prefix_pairs(spark, sf))


SQL_DEDUP_CLUSTERS = r"""
WITH RECURSIVE
w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
       FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
jp AS (SELECT doc_a, doc_b FROM cp
       JOIN sz sa ON sa.doc_id = doc_a
       JOIN sz sb ON sb.doc_id = doc_b
       WHERE common * 10 >= 2 * (sa.n_sh + sb.n_sh - common)),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id,
       LEAST(MIN(dst), src) AS cluster_id,
       LEAST(MIN(dst), src) = src AS keep
FROM reach GROUP BY src
"""


def q_corpus_clean(spark, sf):
    """Flagship training-data composition: the cleaned corpus a user
    would actually train on. documents → drop near-dup cluster members
    (keep the minimum-id representative per connected component) →
    quality gate (≥20 tokens with stopword evidence) → repetition gate
    (≤300‰ duplicate 3-grams) → per-language doc and token counts.
    Every stage is individually oracled (dedup_clusters, docs_quality,
    docs_repetition); this composes them end-to-end in both engines."""
    from cola_spark.operators.clusters import dedup_keep_set

    d = _t(spark, sf, "documents")
    drops = dedup_keep_set(q_jaccard_prefix_pairs(spark, sf)).filter(~F.col("keep"))
    quality = q_docs_quality(spark, sf).filter(F.col("is_quality")).select(
        "doc_id", "n_tokens"
    )
    low_rep = q_docs_repetition(spark, sf).filter(
        F.col("dup_permille") <= 300
    ).select("doc_id")
    return (
        d.join(drops.select("doc_id"), "doc_id", "left_anti")
        .join(quality, "doc_id")
        .join(low_rep, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


SQL_CORPUS_CLEAN = r"""
WITH RECURSIVE
w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
       FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
jp AS (SELECT doc_a, doc_b FROM cp
       JOIN sz sa ON sa.doc_id = doc_a
       JOIN sz sb ON sb.doc_id = doc_b
       WHERE common * 10 >= 2 * (sa.n_sh + sb.n_sh - common)),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
drops AS (SELECT src AS doc_id FROM reach GROUP BY src
          HAVING LEAST(MIN(dst), src) <> src),
g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      WHERE len(ws) >= 3),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
rep AS (SELECT doc_id FROM pg GROUP BY doc_id
        HAVING (1000 * (SUM(c) - COUNT(*))) // SUM(c) <= 300),
q AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE len(string_split_regex(trim(text), '\s+')) >= 20
        AND (length(text) - length(replace(text, 'the', ''))) / 3 > 0)
SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN rep ON rep.doc_id = d.doc_id
WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
GROUP BY d.lang
"""


def q_jaccard_prefix_pairs(spark, sf):
    """EXACT Jaccard ≥ 0.2 pairs via prefix filtering (PPJoin-style):
    identical result set to q_ngram_jaccard_pairs (same SQL oracle) but
    the self-join keys are only each doc's rarest-20%+1 shingles in a
    global rare-first order — the scale-correct form of the exact join,
    whose blow-up otherwise lives in the most common shingles."""
    return shared_prefix_pairs(spark, sf)


def _cosine(a, b, d: int = 64):
    """Expanded (codegen) cosine — same left-to-right fold order as the
    HOF aggregate form it replaced and as DuckDB's list functions, but
    as plain scalar expressions inside whole-stage codegen. HOFs
    (transform/zip_with/aggregate) evaluate interpreted per row — the
    brute-force baseline was paying interpreter tax it doesn't need."""
    from cola_spark.operators.similarity import _expanded_dot_cos

    _, cos = _expanded_dot_cos(a, b, d)
    return cos


def q_ann_cosine_topk(spark, sf):
    """Similarity search: brute-force cosine top-5 per query vector.

    The scale path (LSH-bucketed) is q_ann_lsh_topk (rows-only check).
    """
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    sims = (
        q.crossJoin(e.select(F.col("vec_id").alias("neighbor_id"), "embedding"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank")
    )


SQL_ANN = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 10),
sims AS (SELECT query_id, e.vec_id AS neighbor_id,
                list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) AS sim
         FROM q, embeddings e WHERE e.vec_id <> query_id)
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         AS rank
FROM sims QUALIFY rank <= 5
"""


def q_multimodal_meta(spark, sf):
    """Multimodal plumbing: opaque binary payload + vectorized feature
    extraction (mapInPandas). Real image/audio decode is environment-
    gated (cola_spark.codecs.decode_image raises for absent decoders);
    the schema/batching/UDF shape here is the production path.
    """
    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def extract(it):
        for pdf in it:
            out = pdf[["doc_id"]].copy()
            out["n_bytes"] = [len(b) for b in pdf["payload"]]
            out["head_hex"] = [bytes(b)[:4].hex().upper() for b in pdf["payload"]]
            yield out

    return d.mapInPandas(extract, "doc_id long, n_bytes long, head_hex string")


SQL_MULTIMODAL = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       upper(substr(hex(encode(text)), 1, 8)) AS head_hex
FROM documents
"""


# ------------------------------------------------------------------ registry

PAIRS: dict[str, tuple[Callable, str | None]] = {
    "dedup_anti_join": (q_dedup_anti_join, SQL_DEDUP),
    "priority_fifo_order": (q_priority_fifo_order, SQL_PRIORITY),
    "budget_topk_cut": (q_budget_topk_cut, SQL_TOPK),
    "counter_rollup": (q_counter_rollup, SQL_COUNTER),
    "rate_window": (q_rate_window, SQL_RATE),
    "pattern_dispatch": (q_pattern_dispatch, SQL_PATTERN),
    "retry_requeue": (q_retry_requeue, SQL_RETRY),
    "finished_removal": (q_finished_removal, SQL_FINISHED),
    "running_budget_total": (q_running_budget_total, SQL_RUNNING),
    "seen_cardinality": (q_seen_cardinality, SQL_CARD),
    "robots_gate": (q_robots_gate, SQL_ROBOTS),
    "force_bypass": (q_force_bypass, SQL_FORCE),
    "docs_exact_dedup": (q_docs_exact_dedup, SQL_DOC_DEDUP),
    "docs_token_count": (q_docs_token_count, SQL_TOKENS),
    "docs_quality": (q_docs_quality, SQL_QUALITY),
    "docs_classify": (q_docs_classify, SQL_CLASSIFY),
    "docs_fingerprint": (q_docs_fingerprint, SQL_FINGERPRINT),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_JACCARD),
    "jaccard_prefix_pairs": (q_jaccard_prefix_pairs, SQL_JACCARD),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "docs_repetition": (q_docs_repetition, SQL_REPETITION),
    "corpus_clean": (q_corpus_clean, SQL_CORPUS_CLEAN),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL),
}


# ------------------------------------------------------- scale-path ops
# minhash_lsh_pairs / simhash_near_pairs run the md5 hash family
# (identical in DuckDB: '0x'||substr(md5(..),1,15) cast) so their FULL
# pipelines are SQL-oracled; the xxhash64 production default is the
# same code path under tests/test_textdedup.py. The remaining rows-only
# entries (seeded hyperplanes, image codecs) are asserted against exact
# in-repo oracles in test_similarity.py / test_multimodal.py.


def q_minhash_lsh_pairs(spark, sf):
    """MinHash(16 perms) → LSH(4 bands) → exact-Jaccard verify ≥ 0.2.

    Same output shape as q_ngram_jaccard_pairs: every emitted pair is
    exactly verified (precision 1.0 by construction); LSH only bounds
    recall. Runs the md5 hash family + raw band keys so DuckDB can
    reproduce the ENTIRE pipeline (signatures, banding, candidate join,
    verify) — the xxhash64 scale default is the same code path, covered
    by tests/test_textdedup.py."""
    from cola_spark.operators.textdedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        _t(spark, sf, "documents"), hash_kind="md5", compress_bands=False
    )


def q_simhash_near_pairs(spark, sf):
    """SimHash(64-bit, pure-JVM per-bit vote aggregates) → 4×16-bit
    multi-band bucket join → Hamming ≤ 8 near-dup pairs; md5 family so
    the full pipeline is DuckDB-oracled."""
    from cola_spark.operators.textdedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf, "documents"), hash_kind="md5").select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def _md5i(expr: str, seed: int) -> str:
    """DuckDB twin of textdedup.hash_family('md5'): 60 bits of md5."""
    return f"CAST(('0x' || substr(md5('{seed}:' || {expr}), 1, 15)) AS BIGINT)"


_MH_P, _MH_B = 16, 4
_MH_R = _MH_P // _MH_B
_MH_SIG = ",\n       ".join(
    f"MIN({_md5i('shingle', k)}) AS h{k}" for k in range(_MH_P)
)
_MH_BANDS = " ".join(
    f"WHEN {b} THEN " + " || ',' || ".join(
        f"CAST(h{b * _MH_R + j} AS VARCHAR)" for j in range(_MH_R)
    )
    for b in range(_MH_B)
)

SQL_MINHASH = rf"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
       FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3),
sig AS (SELECT doc_id, {_MH_SIG}
        FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, b, CASE b {_MH_BANDS} END AS bkey
          FROM sig, UNNEST([0, 1, 2, 3]) AS t(b)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
          FROM sh a
          JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b, common, sa.n_sh AS na, sb.n_sh AS nb
FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
WHERE common * 10 >= 2 * (sa.n_sh + sb.n_sh - common)
"""

_SH_VOTES = ",\n       ".join(
    f"SUM(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(64)
)
_SH_TERMS = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {-(1 << 63) if b == 63 else (1 << b)} ELSE 0 END"
    for b in range(64)
)

SQL_SIMHASH = rf"""
WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
th AS (SELECT doc_id, {_md5i('tok', 0)} AS th FROM toks),
votes AS (SELECT doc_id, {_SH_VOTES}
          FROM th GROUP BY doc_id),
sim AS (SELECT doc_id, ({_SH_TERMS}) AS simhash FROM votes),
bandrows AS (SELECT doc_id, simhash, b, (simhash >> (16 * b)) & 65535 AS bv
             FROM sim, UNNEST([0, 1, 2, 3]) AS t(b))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bandrows a JOIN bandrows b
  ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


def q_ann_lsh_topk(spark, sf):
    """Random-hyperplane-bucketed approximate cosine top-5 with
    md5-derived integer hyperplanes — like IVF's hash-seeded centroids,
    the whole pipeline (bucket assignment, Hamming-1 multiprobe,
    candidate join, exact rank) is deterministic and DuckDB-oracled.
    The seeded-numpy variant (lsh_bucketed_topk) stays as the
    vectorized-pandas-UDF exemplar, recall-gated in test_similarity."""
    from cola_spark.operators.similarity import lsh_bucketed_topk_hashed

    e = _t(spark, sf, "embeddings")
    return lsh_bucketed_topk_hashed(e.filter(F.col("vec_id") < 10), e).select(
        "query_id", "neighbor_id", "rank"
    )


def _sql_ann_lsh() -> str:
    from cola_spark.operators.similarity import hash_plane_weights

    w = hash_plane_weights(64, 4)
    dots = [
        f"list_dot_product(e, {[float(x) for x in row]})" for row in w
    ]
    bucket = " + ".join(
        f"(CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END)" for j, d in enumerate(dots)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << i})" for i in range(4)])
    return f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, {bucket} AS bucket
  FROM embeddings),
qp AS (
  SELECT vec_id AS query_id, e AS qe, p.b AS bucket
  FROM b, UNNEST([{probes}]) AS p(b)
  WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qp q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
sims AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_cosine_similarity(qb.e, cb.e) AS sim
  FROM cand
  JOIN b qb ON qb.vec_id = cand.query_id
  JOIN b cb ON cb.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         AS rank
FROM sims QUALIFY rank <= 5
"""


SQL_ANN_LSH = _sql_ann_lsh()


def q_ann_ivf_topk(spark, sf):
    """IVF approximate cosine top-5: hash-seeded coarse centroids →
    map-side nearest-cell assignment (inverted lists) → queries probe
    their 2 nearest of 8 cells → exact cosine + rank inside the probed
    lists. Deterministic end-to-end, so unlike the seeded-hyperplane
    LSH variant the FULL pipeline is DuckDB-oracled."""
    from cola_spark.operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    return ivf_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, n_cells=8, nprobe=2
    ).select("query_id", "neighbor_id", "rank")


SQL_ANN_IVF = """
WITH cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS ce
  FROM embeddings ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)) LIMIT 8),
corpus_cells AS (
  SELECT vec_id AS neighbor_id, ve, cent_id AS cell FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce) DESC,
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c)
  WHERE rn = 1),
query_cells AS (
  SELECT vec_id AS query_id, qe, cent_id AS cell FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS qe, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce) DESC,
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
  WHERE rn <= 2),
sims AS (
  SELECT q.query_id, i.neighbor_id, list_cosine_similarity(q.qe, i.ve) AS sim
  FROM query_cells q JOIN corpus_cells i
    ON q.cell = i.cell AND i.neighbor_id <> q.query_id)
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         AS rank
FROM sims QUALIFY rank <= 5
"""


def q_embedding_centroids(spark, sf):
    """Per-label centroid via posexplode/positional-avg. The float
    centroid stays out of the hashed comparison (cross-engine float
    summation order differs); the oracle pins the reassembly shape —
    per-label row count and reconstructed dimensionality."""
    from cola_spark.operators.similarity import centroids

    return centroids(_t(spark, sf, "embeddings")).select(
        "label", F.size("centroid").cast("long").alias("dim"), "n"
    )


SQL_CENTROIDS = """
SELECT label, CAST(MIN(len(embedding)) AS BIGINT) AS dim, COUNT(*) AS n
FROM embeddings GROUP BY label
"""


PAIRS.update({
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH),
    "simhash_near_pairs": (q_simhash_near_pairs, SQL_SIMHASH),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH),
    "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF),
    "embedding_centroids": (q_embedding_centroids, SQL_CENTROIDS),
})


def q_image_features(spark, sf):
    """Vectorized image feature extraction over the synthetic images
    table (binary → fixed-width features; deterministic, rows-only)."""
    from cola_spark.operators.multimodal import image_features
    from cola_spark.sources import gen_images

    return image_features(gen_images(spark, 64)).orderBy("image_id")


def q_phash_near_dups(spark, sf):
    """Perceptual-hash near-duplicate image pairs (bucketed Hamming)."""
    from cola_spark.operators.multimodal import image_features, phash_near_dup_pairs
    from cola_spark.sources import gen_images

    return phash_near_dup_pairs(image_features(gen_images(spark, 64)), max_hamming=16)


def q_image_dedup_clusters(spark, sf):
    """Image dedup keep-set: pHash near-dup pairs → connected
    components → one representative per visual cluster (the image-side
    mirror of dedup_clusters; rows-only — pHash depends on the
    in-engine synthetic image codec, asserted against the in-repo exact
    oracle in test_multimodal/test_clusters)."""
    from cola_spark.operators.clusters import dedup_keep_set
    from cola_spark.operators.multimodal import image_features, phash_near_dup_pairs
    from cola_spark.sources import gen_images

    pairs = phash_near_dup_pairs(image_features(gen_images(spark, 64)), max_hamming=16)
    return dedup_keep_set(pairs, a_col="img_a", b_col="img_b").withColumnRenamed(
        "doc_id", "image_id"
    )


def q_frame_sample(spark, sf):
    """VIDF frame sampling: 1 video row in → N frame rows out (UDTF
    shape); per-frame metadata only (deterministic)."""
    import pandas as pd

    from cola_spark.operators.multimodal import encode_vidf, frame_sample

    def mk(it):
        from cola_spark.codecs import encode_jpgq
        from cola_spark.codecs.pixels import gen_pixels

        for pdf in it:
            rows = []
            for i in pdf["id"]:
                frames = [encode_jpgq(gen_pixels(f"v{i}f{j}", 16, 16)) for j in range(6)]
                rows.append((f"v{int(i)}", encode_vidf(frames)))
            yield pd.DataFrame(rows, columns=["video_id", "bytes"])

    vids = spark.range(8).mapInPandas(mk, "video_id string, bytes binary")
    return frame_sample(vids, every_n=3).select(
        "video_id", "frame_no", F.length("bytes").cast("long").alias("n_bytes")
    )


def q_image_corpus_clean(spark, sf):
    """Flagship image-side cleaning composition — the image mirror of
    corpus_clean: corpus (with injected byte-identical duplicates) →
    exact byte dedup (md5 groupBy, min-id representative) → pHash
    near-dup keep-set (multi-band Hamming pairs → connected components,
    drop non-representatives) → luma-variance quality gate (flat images
    out) → per-format counts and integer feature sums. Rows-only (the
    image codec has no DuckDB twin); exact sequential recomputation in
    LOCAL_ORACLES."""
    from cola_spark.operators.clusters import dedup_keep_set
    from cola_spark.operators.multimodal import image_features, phash_near_dup_pairs
    from cola_spark.sources import gen_images

    base = gen_images(spark, 64)
    dups = base.filter(F.col("image_id") < "img00000008").withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("-dup"))
    )
    corpus = base.unionByName(dups)
    keep_exact = corpus.groupBy(F.md5(F.col("bytes")).alias("_d")).agg(
        F.min("image_id").alias("image_id")
    )
    survivors = corpus.join(keep_exact.select("image_id"), "image_id", "semi")
    feats = image_features(survivors)
    # Hamming <= 1: true visual duplicates (the synthetic gradient
    # textures cluster tightly — median pair Hamming is 8, so a loose
    # radius would collapse the whole corpus); detection is guaranteed
    # by the 4x16-bit banding for Hamming <= 3
    pairs = phash_near_dup_pairs(feats, max_hamming=1)
    drops = (
        dedup_keep_set(pairs, a_col="img_a", b_col="img_b")
        .filter(~F.col("keep"))
        .select(F.col("doc_id").alias("image_id"))
    )
    gated = (
        survivors.join(drops, "image_id", "left_anti")
        .select("image_id", "fmt")
        .join(feats, "image_id")
        .filter(F.col("std_luma_x1000") >= 30000)
    )
    return gated.groupBy("fmt").agg(
        F.count("*").alias("n_images"),
        F.sum("w").alias("sum_w"),
        F.sum("h").alias("sum_h"),
        F.sum("mean_luma_x1000").alias("sum_mean_luma"),
    )


PAIRS.update({
    "image_features": (q_image_features, None),
    "phash_near_dups": (q_phash_near_dups, None),
    "image_dedup_clusters": (q_image_dedup_clusters, None),
    "image_corpus_clean": (q_image_corpus_clean, None),
    "frame_sample": (q_frame_sample, None),
})


# ------------------------------------------------- in-repo exact oracles
# The four image-codec queries cannot be SQL-oracled (DuckDB has no
# PNG/JPGQ decoder), but they ARE exactly verifiable: a sequential
# pure-Python recomputation on the driver — no Spark, no partitioning,
# no Arrow — produces the byte-identical expected result. The driver
# gate (scripts/driver_gate_check.py) runs these so every row in the
# correctness report is accounted: SQL-oracled, locally-oracled, or
# neither (none remain).


def _local_decoded_images(n: int = 64):
    import hashlib

    from cola_spark.codecs import decode_image, encode_image
    from cola_spark.codecs.pixels import gen_pixels

    dims = (16, 24, 32)
    out = []
    for i in range(n):
        image_id = f"img{i:08d}"
        d = hashlib.md5(image_id.encode()).digest()
        w, h = dims[d[2] % 3], dims[d[3] % 3]
        fmt = "png" if d[4] % 2 == 0 else "jpgq"
        data = encode_image(gen_pixels(image_id, w, h), fmt)
        out.append((image_id, decode_image(data, fmt)))
    return out


def _local_feature_rows(n: int = 64):
    import numpy as np

    from cola_spark.codecs.pixels import phash64

    rows = []
    for image_id, px in _local_decoded_images(n):
        luma = px.astype(np.float32) @ np.array([0.299, 0.587, 0.114], np.float32)
        rows.append((
            image_id, px.shape[1], px.shape[0],
            int(luma.mean() * 1000), int(luma.std() * 1000), phash64(px),
        ))
    return rows


def local_oracle_image_features(spark, sf):
    import pandas as pd

    pdf = pd.DataFrame(
        _local_feature_rows(),
        columns=["image_id", "w", "h", "mean_luma_x1000", "std_luma_x1000", "phash"],
    )
    return pdf.astype({"w": "int32", "h": "int32"})


def _local_phash_pairs(max_hamming: int = 16, bands: int = 4):
    """Banded-Hamming semantics replicated sequentially: a pair is
    emitted iff hamming <= max AND at least one 16-bit band matches."""
    feats = _local_feature_rows()
    U = (1 << 64) - 1
    out = []
    for i, (a, _, _, _, _, ha) in enumerate(feats):
        for b, _, _, _, _, hb in feats[i + 1:]:
            ua, ub = ha & U, hb & U
            ham = bin(ua ^ ub).count("1")
            band = any(
                ((ua >> (16 * k)) & 0xFFFF) == ((ub >> (16 * k)) & 0xFFFF)
                for k in range(bands)
            )
            if ham <= max_hamming and band:
                out.append((min(a, b), max(a, b), ham))
    return out


def local_oracle_phash_near_dups(spark, sf):
    import pandas as pd

    pdf = pd.DataFrame(_local_phash_pairs(), columns=["img_a", "img_b", "hamming"])
    return pdf.astype({"hamming": "int32"})


def local_oracle_image_dedup_clusters(spark, sf):
    import pandas as pd

    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs = _local_phash_pairs()
    for a, b, _ in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rows = [(n, find(n), n == find(n)) for n in sorted(parent)]
    return pd.DataFrame(rows, columns=["image_id", "cluster_id", "keep"])


def local_oracle_frame_sample(spark, sf):
    import pandas as pd

    from cola_spark.codecs import encode_jpgq
    from cola_spark.codecs.pixels import gen_pixels

    rows = []
    for i in range(8):
        frames = [encode_jpgq(gen_pixels(f"v{i}f{j}", 16, 16)) for j in range(6)]
        for j, fr in enumerate(frames):
            if j % 3 == 0:
                rows.append((f"v{i}", j, len(fr)))
    pdf = pd.DataFrame(rows, columns=["video_id", "frame_no", "n_bytes"])
    return pdf.astype({"frame_no": "int32"})


def local_oracle_image_corpus_clean(spark, sf):
    import hashlib

    import pandas as pd

    # injected duplicates share bytes with an original and a strictly
    # larger id ("imgX" < "imgX-dup"), so exact byte dedup keeps
    # exactly the 64 originals — the oracle composes from there
    feats = _local_feature_rows(64)
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in _local_phash_pairs(1, 4):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    drops = {n for n in parent if find(n) != n}
    agg: dict[str, list] = {}
    for image_id, w, h, mean, std, _ph in feats:
        if image_id in drops or std < 30000:
            continue
        d = hashlib.md5(image_id.encode()).digest()
        fmt = "png" if d[4] % 2 == 0 else "jpgq"
        acc = agg.setdefault(fmt, [0, 0, 0, 0])
        acc[0] += 1
        acc[1] += w
        acc[2] += h
        acc[3] += mean
    rows = [(f, *agg[f]) for f in sorted(agg)]
    return pd.DataFrame(
        rows, columns=["fmt", "n_images", "sum_w", "sum_h", "sum_mean_luma"]
    )


#: name -> callable(spark, sf) -> pandas.DataFrame with the exact
#: expected result (columns and dtypes matching the Spark query)
LOCAL_ORACLES: dict[str, Callable] = {
    "image_features": local_oracle_image_features,
    "phash_near_dups": local_oracle_phash_near_dups,
    "image_dedup_clusters": local_oracle_image_dedup_clusters,
    "image_corpus_clean": local_oracle_image_corpus_clean,
    "frame_sample": local_oracle_frame_sample,
}


def q_flagship_oneround(spark, sf):
    """The flagship one-round scheduler composition (entry()'s exact
    semantics on the orders table), SQL-oracled: canonical-dup collapse
    (first seq per page), robots-prefix gate, per-host priority-FIFO
    budget cut, deterministic global order."""
    o = _t(spark, sf, "orders")
    host_id = F.pmod(F.col("o_custkey"), F.lit(100))
    df = o.select(
        F.format_string("c%03d", host_id).alias("host"),
        F.pmod(F.col("o_orderkey"), F.lit(50)).alias("page"),
        ((F.substring(F.col("o_orderpriority"), 1, 1).cast("int") - 1) % 3).alias("priority"),
        F.col("o_orderkey").alias("seq"),
    )
    w_dup = Window.partitionBy("host", "page").orderBy("seq")
    admitted = df.withColumn("_rn", F.row_number().over(w_dup)).filter(F.col("_rn") == 1).drop("_rn")
    allowed = admitted.filter(
        ~(F.col("host").rlike("^c0[0-9]7") & F.col("page").cast("string").startswith("1"))
    )
    w_cut = Window.partitionBy("host").orderBy("priority", "seq")
    cut = allowed.withColumn("host_rank", F.row_number().over(w_cut).cast("long")).filter(
        F.col("host_rank") <= 8
    )
    from cola_spark.operators.ranking import global_rank

    return global_rank(
        cut.select("host", "page", "priority", "seq", "host_rank"),
        ["priority", "host", "seq"],
        eager_release=True,
    )


SQL_FLAGSHIP = """
WITH fr AS (
  SELECT printf('c%03d', o_custkey % 100) AS host,
         o_orderkey % 50 AS page,
         (CAST(substr(o_orderpriority, 1, 1) AS INT) - 1) % 3 AS priority,
         o_orderkey AS seq
  FROM orders),
admitted AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY host, page ORDER BY seq) AS rn FROM fr),
allowed AS (
  SELECT host, page, priority, seq FROM admitted
  WHERE rn = 1
    AND NOT (regexp_matches(host, '^c0[0-9]7') AND CAST(page AS VARCHAR) LIKE '1%')),
cut AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, seq) AS host_rank
  FROM allowed)
SELECT host, page, priority, seq, host_rank,
       ROW_NUMBER() OVER (ORDER BY priority, host, seq) AS global_rank
FROM cut WHERE host_rank <= 8
"""


def q_session_windows(spark, sf):
    """Session windows (30-min inactivity gap) per user — the advanced
    windowing the reference lacks, free in Spark (SURVEY §2.5 note)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("timestamp").cast("long")  # NTZ→BIGINT is
    # forbidden in Spark 4 ANSI; NTZ→TIMESTAMP→BIGINT is fine (UTC session)
    gap = secs - F.lag(secs, 1).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        ev.withColumn("_new", new_sess)
        .withColumn("session_id", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


SQL_SESSION = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS _new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id,
         CAST(SUM(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM g)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(event_id) AS first_event, MAX(event_id) AS last_event
FROM s GROUP BY user_id, session_id
"""


def q_asof_latest_order(spark, sf):
    """As-of join: each event matched to the user's most recent order at
    event time (window emulation — portable ANSI in both engines)."""
    ev = _t(spark, sf, "events").filter(F.col("event_id") < 2000)
    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    j = ev.join(o, "user_id", "inner").filter(F.col("o_orderdate") <= F.col("ts"))
    w = Window.partitionBy("event_id").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "user_id", "o_orderkey")
    )


SQL_ASOF = """
WITH j AS (
  SELECT e.event_id, e.user_id, o.o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e JOIN orders o ON o.o_custkey = e.user_id
  WHERE e.event_id < 2000 AND o.o_orderdate <= e.ts)
SELECT event_id, user_id, o_orderkey FROM j WHERE rn = 1
"""


PAIRS.update({
    "flagship_oneround": (q_flagship_oneround, SQL_FLAGSHIP),
    "session_windows": (q_session_windows, SQL_SESSION),
    "asof_latest_order": (q_asof_latest_order, SQL_ASOF),
})


def q_bundle_schedule(spark, sf):
    """Bundle-unit scheduling (cola Bundle semantics, SURVEY §2.9):
    orders grouped into bundles by customer; bundle priority/seq = best
    member; per-host cut at bundle granularity (cap 2 bundles/host),
    fanned back to member rows."""
    from cola_spark.operators.bundles import schedule_bundles

    o = _t(spark, sf, "orders")
    fr = o.select(
        F.format_string("c%03d", F.pmod(F.col("o_custkey"), F.lit(100))).alias("host"),
        F.concat(F.lit("cust_"), F.col("o_custkey").cast("string")).alias("bundle_label"),
        ((F.substring(F.col("o_orderpriority"), 1, 1).cast("int") - 1) % 3).alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.xxhash64(F.col("o_orderkey")).alias("url_hash"),
    )
    caps = fr.select("host").distinct().select("host", F.lit(2).cast("long").alias("cap"))
    out = schedule_bundles(fr, caps, salt_buckets=4)
    return out.select(
        "host", "bundle_label", "priority", "seq",
        F.col("bundle_rank").cast("long").alias("bundle_rank"),
    )


SQL_BUNDLE = """
WITH fr AS (
  SELECT printf('c%03d', o_custkey % 100) AS host,
         'cust_' || CAST(o_custkey AS VARCHAR) AS bundle_label,
         (CAST(substr(o_orderpriority, 1, 1) AS INT) - 1) % 3 AS priority,
         o_orderkey AS seq
  FROM orders),
b AS (
  SELECT host, bundle_label, MIN(priority) AS bpriority, MIN(seq) AS bseq
  FROM fr GROUP BY host, bundle_label),
r AS (
  SELECT host, bundle_label,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY bpriority, bseq) AS bundle_rank
  FROM b)
SELECT fr.host, fr.bundle_label, fr.priority, fr.seq, r.bundle_rank
FROM fr JOIN r ON fr.host = r.host AND fr.bundle_label = r.bundle_label
WHERE r.bundle_rank <= 2
"""


PAIRS.update({"bundle_schedule": (q_bundle_schedule, SQL_BUNDLE)})


def q_global_rate_cap(spark, sf):
    """cola speed.max (SURVEY §2.4 row 22): cluster-wide pages/round
    ceiling applied after the per-host cut, deterministic (priority,
    seq) tie-break — two-phase ranked, no single-partition window."""
    from cola_spark.operators.priority import apply_global_cap

    o = _t(spark, sf, "orders")
    fr = o.select(
        F.format_string("c%03d", F.pmod(F.col("o_custkey"), F.lit(100))).alias("host"),
        ((F.substring(F.col("o_orderpriority"), 1, 1).cast("int") - 1) % 3).alias("priority"),
        F.col("o_orderkey").alias("seq"),
    )
    w = Window.partitionBy("host").orderBy("priority", "seq")
    cut = fr.withColumn("host_rank", F.row_number().over(w).cast("long")).filter(
        F.col("host_rank") <= 5
    )
    return apply_global_cap(cut, 200).select("host", "priority", "seq", "host_rank")


SQL_GLOBAL_CAP = """
WITH fr AS (
  SELECT printf('c%03d', o_custkey % 100) AS host,
         (CAST(substr(o_orderpriority, 1, 1) AS INT) - 1) % 3 AS priority,
         o_orderkey AS seq
  FROM orders),
cut AS (
  SELECT host, priority, seq,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, seq) AS host_rank
  FROM fr),
g AS (SELECT *, ROW_NUMBER() OVER (ORDER BY priority, seq) AS grank
      FROM cut WHERE host_rank <= 5)
SELECT host, priority, seq, host_rank FROM g WHERE grank <= 200
"""


PAIRS.update({"global_rate_cap": (q_global_rate_cap, SQL_GLOBAL_CAP)})


def q_bundle_expand(spark, sf):
    """Live-bundle URL generation (cola Bundle.urls() / current_urls,
    SURVEY §2.9 unit_cls): per-bundle applyInPandas generator re-emits
    members and appends follow-up page URLs — the WeiboUserBundle shape,
    SQL-oracled end to end."""
    from cola_spark.operators.bundles import expand_bundles

    o = _t(spark, sf, "orders")
    host = F.format_string("c%03d", F.pmod(F.col("o_custkey"), F.lit(100)))
    fr = o.select(
        host.alias("host"),
        F.concat(F.lit("cust_"), F.col("o_custkey").cast("string")).alias("bundle_label"),
        ((F.substring(F.col("o_orderpriority"), 1, 1).cast("int") - 1) % 3)
        .cast("int").alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.format_string("http://c%03d/p/%d", F.pmod(F.col("o_custkey"), F.lit(100)),
                        F.col("o_orderkey")).alias("url"),
        F.lit(False).alias("force"),
    )
    out = expand_bundles(fr)
    return out.select(
        "bundle_label", "url", F.col("priority").cast("long").alias("priority"),
        "seq", "generated",
    )


SQL_BUNDLE_EXPAND = """
WITH fr AS (
  SELECT printf('c%03d', o_custkey % 100) AS host,
         'cust_' || CAST(o_custkey AS VARCHAR) AS bundle_label,
         (CAST(substr(o_orderpriority, 1, 1) AS INT) - 1) % 3 AS priority,
         o_orderkey AS seq,
         printf('http://c%03d/p/%d', o_custkey % 100, o_orderkey) AS url
  FROM orders),
b AS (SELECT bundle_label, host, MIN(priority) AS bp, MIN(seq) AS bs, COUNT(*) AS n
      FROM fr GROUP BY 1, 2),
g AS (SELECT MAX(seq) AS gmax FROM fr)
SELECT bundle_label, url, CAST(priority AS BIGINT) AS priority, seq, FALSE AS generated
FROM fr
UNION ALL
SELECT bundle_label,
       printf('http://%s/b/%s/page/%d', host, bundle_label, p) AS url,
       CAST(bp AS BIGINT) AS priority,
       g.gmax + bs * 3 + p AS seq,
       TRUE AS generated
FROM b, g, UNNEST(generate_series(1, LEAST(n, 3))) AS t(p)
"""


PAIRS.update({"bundle_expand": (q_bundle_expand, SQL_BUNDLE_EXPAND)})


def q_embedding_near_dups(spark, sf):
    """Embedding-cosine near-duplicate pairs — the exact all-pairs
    oracle (the scale path, similarity.lsh_near_dup_pairs, is the
    bucketed equi-join variant tested against this in
    test_similarity)."""
    from cola_spark.operators.similarity import cosine_near_dup_pairs

    return cosine_near_dup_pairs(_t(spark, sf, "embeddings"), min_sim_x1000=350)


SQL_EMB_NEAR_DUPS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(FLOOR(list_cosine_similarity(a.v, b.v) * 1000) AS BIGINT) AS sim_x1000
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE FLOOR(list_cosine_similarity(a.v, b.v) * 1000) >= 350
"""


_LANG_MARKERS = {
    "en": ["th", "he", "ing"],
    "de": ["sch", "ei", "und"],
    "fr": ["le", "ou", "es"],
    "es": ["de", "la", "os"],
}


def q_docs_lang_id(spark, sf):
    """Language-ID by character-n-gram marker frequencies: per-language
    score = Σ occurrences of that language's marker n-grams, prediction
    = argmax with a deterministic tie-break (en > de > fr > es). The
    scoring machinery is the real operator (the sandbox corpus is
    synthetic English-ish for every lang label, so accuracy against the
    label column is not a meaningful target — determinism and
    cross-engine parity are)."""
    d = _t(spark, sf, "documents")

    def cnt(pat):
        return F.floor(
            (F.length("text") - F.length(F.expr(f"replace(text, '{pat}', '')")))
            / len(pat)
        ).cast("long")

    scores = {
        lang: sum([cnt(p) for p in pats[1:]], cnt(pats[0])).alias(f"score_{lang}")
        for lang, pats in _LANG_MARKERS.items()
    }
    scored = d.select("doc_id", *scores.values())
    langs = list(_LANG_MARKERS)
    expr = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            ge = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            # strict > against languages EARLIER in tie-break order
            if langs.index(other) < langs.index(lang):
                ge = F.col(f"score_{lang}") > F.col(f"score_{other}")
            cond = ge if cond is None else (cond & ge)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return scored.select(
        "doc_id", *[f"score_{lang}" for lang in langs],
        F.coalesce(expr, F.lit(langs[0])).alias("lang_pred"),
    )


def _lang_sql() -> str:
    def cnt(pat):
        return (
            f"CAST(FLOOR((length(text) - length(replace(text, '{pat}', ''))) "
            f"/ {len(pat)}) AS BIGINT)"
        )

    score_cols = ",\n       ".join(
        " + ".join(cnt(p) for p in pats) + f" AS score_{lang}"
        for lang, pats in _LANG_MARKERS.items()
    )
    langs = list(_LANG_MARKERS)
    whens = []
    for lang in langs:
        conds = []
        for other in langs:
            if other == lang:
                continue
            op = ">" if langs.index(other) < langs.index(lang) else ">="
            conds.append(f"score_{lang} {op} score_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
WITH s AS (SELECT doc_id,
       {score_cols}
FROM documents)
SELECT doc_id, {', '.join('score_' + la for la in langs)},
       COALESCE(CASE {' '.join(whens)} END, '{langs[0]}') AS lang_pred
FROM s
"""


SQL_LANG_ID = _lang_sql()

PAIRS.update({
    "embedding_near_dups": (q_embedding_near_dups, SQL_EMB_NEAR_DUPS),
    "docs_lang_id": (q_docs_lang_id, SQL_LANG_ID),
})


def q_span_dedup(spark, sf):
    """Cross-document exact substring dedup (Lee et al. 2022): every
    occurrence-after-the-first of any repeated 5-token span is removed
    corpus-wide (first occurrence in global (doc_id, pos) order kept).
    Linear window-hashing + keep-first rank + gaps-and-islands span
    merge — the span-level dedup modality beside whole-doc (md5) and
    near-doc (MinHash/SimHash/Jaccard) dedup. Output per doc: merged
    span count, removed token count, cleaned text."""
    from cola_spark.operators.textdedup import duplicate_spans, spread_small_scan

    docs = spread_small_scan(_t(spark, sf, "documents"))
    return duplicate_spans(docs, min_len=5)


SQL_SPAN_DEDUP = r"""
WITH base AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
              FROM documents),
wins AS (SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i+4], ' ')) AS h
         FROM base, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
         WHERE len(ws) >= 5),
marked AS (SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
             FROM wins) WHERE rn > 1),
isl AS (SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(MAX(pos + 5) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS ni
        FROM marked),
grp AS (SELECT doc_id, pos,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM isl),
spans AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + 5 AS e
          FROM grp GROUP BY doc_id, g),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s) AS BIGINT) AS removed_tokens
        FROM spans GROUP BY doc_id),
toks AS (SELECT b.doc_id, i, b.ws[i] AS tok
         FROM base b, UNNEST(generate_series(1, len(b.ws))) AS t(i)),
keep AS (SELECT k.doc_id, k.i, k.tok FROM toks k
         WHERE NOT EXISTS (SELECT 1 FROM spans s
                           WHERE s.doc_id = k.doc_id
                             AND k.i >= s.s AND k.i < s.e)),
clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
          FROM keep GROUP BY doc_id)
SELECT b.doc_id,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(a.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       COALESCE(c.clean_text, '') AS clean_text
FROM base b
LEFT JOIN agg a USING (doc_id)
LEFT JOIN clean c USING (doc_id)
"""

PAIRS.update({"span_dedup": (q_span_dedup, SQL_SPAN_DEDUP)})


def q_decontam_overlap(spark, sf):
    """Benchmark decontamination (GPT-3 App. C style): every training
    doc sharing at least one 8-token n-gram with the benchmark split
    (here: doc_id % 20 == 7 — a deterministic stand-in eval set) is
    flagged, with its distinct-hit count. Benchmark n-grams broadcast;
    the corpus probes them map-side during its own n-gram fan-out."""
    from cola_spark.operators.decontam import benchmark_overlap

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 7)
    corpus = docs.filter(F.col("doc_id") % 20 != 7)
    return benchmark_overlap(corpus, bench, n=8)


SQL_DECONTAM = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
g AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS ng
      FROM w, UNNEST(generate_series(1, len(ws) - 7)) AS t(i)
      WHERE len(ws) >= 8),
bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 20 = 7),
hits AS (SELECT g.doc_id, CAST(COUNT(DISTINCT g.ng) AS BIGINT) AS n_hits
         FROM g JOIN bench USING (ng)
         WHERE g.doc_id % 20 <> 7 GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 20 <> 7
"""


def q_domain_sample(spark, sf):
    """Deterministic stratified domain-mix sample: keep 60% of en, 30%
    of de/es/fr, 15% of zh by hashing doc_id into a permille bucket
    (md5 family — bit-identical in DuckDB, so the exact sample
    membership is oracled). Pure map-side filter: zero shuffles,
    rerun-stable, nested under rate increases."""
    from cola_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf, "documents"),
        {"en": 600, "de": 300, "es": 300, "fr": 300, "zh": 150},
        default_permille=0,
        hash_kind="md5",
    )


SQL_DOMAIN_SAMPLE = """
WITH b AS (
  SELECT doc_id, lang AS stratum,
         CAST(('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000 AS bucket,
         CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 300 WHEN 'es' THEN 300
                   WHEN 'fr' THEN 300 WHEN 'zh' THEN 150 ELSE 0 END AS rate
  FROM documents)
SELECT doc_id, stratum, bucket FROM b WHERE bucket < rate
"""


# PQ geometry: 16 subspaces × 4 dims, 32 hash-seeded codewords each —
# 80 bits/vector. On isotropic synthetic embeddings (no cluster
# structure — PQ's worst case) this is the coarsest grid that still
# ranks usefully (recall@5 ≈ 0.4 vs brute force, test-gated); a trained
# k-means codebook drops into the same schema.
_PQ_M, _PQ_K, _PQ_D = 16, 32, 4


def q_ann_pq_topk(spark, sf):
    """Product-quantization approximate top-5 (ADC scoring): the
    compressed-vector complement of IVF — corpus vectors become _PQ_M
    codebook indices (hash-seeded codebook, the ivf_cells trick), the
    query scores against codeword reconstructions subspace-by-subspace
    in a fixed fold order, so the FULL pipeline is DuckDB-oracled."""
    from cola_spark.operators.similarity import pq_topk

    e = _t(spark, sf, "embeddings")
    return pq_topk(
        e.filter(F.col("vec_id") < 10), e, k=5,
        n_sub=_PQ_M, n_codes=_PQ_K, sub_dim=_PQ_D,
    ).select("query_id", "neighbor_id", "rank")


def _sql_ann_pq(m: int = _PQ_M, k: int = _PQ_K, d: int = _PQ_D) -> str:
    ms = ", ".join(str(i) for i in range(m))
    pivot = "\n                  + ".join(
        f"MAX(CASE WHEN m = {i} THEN t END)" for i in range(m)
    )
    return f"""
WITH src AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))) - 1 AS INTEGER) AS code
  FROM embeddings ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)) LIMIT {k}),
cb AS (SELECT m, code, array_slice(v, m*{d} + 1, m*{d} + {d}) AS cw
       FROM src, UNNEST([{ms}]) AS t(m)),
corp AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
         FROM embeddings),
enc1 AS (SELECT neighbor_id, m, code,
                ROW_NUMBER() OVER (
                  PARTITION BY neighbor_id, m
                  ORDER BY list_cosine_similarity(
                             array_slice(cv, m*{d} + 1, m*{d} + {d}), cw) DESC,
                           code) AS rn
         FROM corp CROSS JOIN cb),
codes AS (SELECT neighbor_id, m, code FROM enc1 WHERE rn = 1),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10),
terms AS (SELECT q.query_id, c.neighbor_id, c.m,
                 list_dot_product(array_slice(q.qv, c.m*{d} + 1, c.m*{d} + {d}),
                                  b.cw) AS t
          FROM q CROSS JOIN codes c
          JOIN cb b ON b.m = c.m AND b.code = c.code
          WHERE c.neighbor_id <> q.query_id),
scores AS (SELECT query_id, neighbor_id,
                  {pivot} AS score
           FROM terms GROUP BY 1, 2)
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         AS rank
FROM scores QUALIFY rank <= 5
"""


SQL_ANN_PQ = _sql_ann_pq()


PAIRS.update({
    "decontam_overlap": (q_decontam_overlap, SQL_DECONTAM),
    "domain_sample": (q_domain_sample, SQL_DOMAIN_SAMPLE),
    "ann_pq_topk": (q_ann_pq_topk, SQL_ANN_PQ),
})


def q_image_decontam(spark, sf):
    """Image-side benchmark decontamination: flag corpus images whose
    pHash is within Hamming 1 of any benchmark image (bench = every
    8th texture, a planted verbatim leak). Bench band rows broadcast;
    pigeonhole makes the radius-1 gate exact. Rows-only (pHash rides
    the in-engine codec); exact sequential oracle in LOCAL_ORACLES."""
    from cola_spark.operators.multimodal import image_features, phash_decontam
    from cola_spark.sources import gen_images

    feats = image_features(gen_images(spark, 64))
    bench = feats.filter(
        F.substring("image_id", 4, 8).cast("long") % 8 == 3
    )
    return phash_decontam(feats, bench, max_hamming=1)


def local_oracle_image_decontam(spark, sf):
    import pandas as pd

    feats = _local_feature_rows()
    U = (1 << 64) - 1
    bench = [ph for (iid, _, _, _, _, ph) in feats if int(iid[3:]) % 8 == 3]
    rows = []
    for iid, _, _, _, _, ph in feats:
        best = min(bin((ph & U) ^ (b & U)).count("1") for b in bench)
        rows.append((iid, best if best <= 1 else -1, best <= 1))
    return pd.DataFrame(rows, columns=["image_id", "best_hamming", "contaminated"])


def q_docs_unigram_quality(spark, sf):
    """Corpus-statistics quality score (the learned counterpart of the
    static docs_quality heuristics): per doc, the sum and scaled mean
    of floor(log2(corpus unigram frequency)) over token occurrences —
    integer-exact via length(bin(cnt))-1, so the whole two-pass
    pipeline (vocab counts, Zipf-split head-broadcast/tail-shuffle
    score join) is DuckDB-oracled."""
    from cola_spark.operators.textstats import unigram_quality

    return unigram_quality(_t(spark, sf, "documents"))


SQL_UNIGRAM_QUALITY = r"""
WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
vocab AS (SELECT tok, CAST(length(bin(COUNT(*))) - 1 AS BIGINT) AS bucket
          FROM toks GROUP BY tok),
scored AS (SELECT t.doc_id, v.bucket FROM toks t JOIN vocab v USING (tok))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(bucket) AS BIGINT) AS sum_log2f,
       CAST((1000 * CAST(SUM(bucket) AS BIGINT)) // COUNT(*) AS BIGINT)
         AS mean_millilog
FROM scored GROUP BY doc_id
"""


PAIRS.update({
    "image_decontam": (q_image_decontam, None),
    "docs_unigram_quality": (q_docs_unigram_quality, SQL_UNIGRAM_QUALITY),
})
LOCAL_ORACLES["image_decontam"] = local_oracle_image_decontam


def q_corpus_mix_clean(spark, sf):
    """The COMPLETE training-data composition — what actually ships to
    the trainer: documents → drop near-dup cluster members (min-id
    representative kept) → quality gate → repetition gate → drop the
    eval split AND every doc contaminated by it (8-token n-gram
    overlap) → stratified domain-mix sample → per-language doc/token
    counts. Every stage is individually oracled (dedup_clusters,
    docs_quality, docs_repetition, decontam_overlap, domain_sample);
    this composes all of them end-to-end in both engines."""
    from cola_spark.operators.clusters import dedup_keep_set

    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 20 != 7)
    drops = dedup_keep_set(q_jaccard_prefix_pairs(spark, sf)).filter(~F.col("keep"))
    quality = q_docs_quality(spark, sf).filter(F.col("is_quality")).select(
        "doc_id", "n_tokens"
    )
    low_rep = q_docs_repetition(spark, sf).filter(
        F.col("dup_permille") <= 300
    ).select("doc_id")
    contaminated = q_decontam_overlap(spark, sf).filter(
        F.col("contaminated")
    ).select("doc_id")
    sample = q_domain_sample(spark, sf).select("doc_id")
    return (
        d.join(drops.select("doc_id"), "doc_id", "left_anti")
        .join(quality, "doc_id")
        .join(low_rep, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .join(sample, "doc_id", "semi")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# Shared mix-pipeline CTE prefix (near-dup drops via recursive CC,
# repetition gate, decontamination, stratified sample) — composed with
# either the heuristic quality CTE (corpus_mix_clean) or the unrolled
# learned-classifier CTEs (corpus_mix_clean_lr).
_MIX_PREFIX_CTES = r"""w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
       FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
       WHERE len(ws) >= 3),
sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
cp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
jp AS (SELECT doc_a, doc_b FROM cp
       JOIN sz sa ON sa.doc_id = doc_a
       JOIN sz sb ON sb.doc_id = doc_b
       WHERE common * 10 >= 2 * (sa.n_sh + sb.n_sh - common)),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
          UNION SELECT doc_b, doc_a FROM jp),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
drops AS (SELECT src AS doc_id FROM reach GROUP BY src
          HAVING LEAST(MIN(dst), src) <> src),
g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      WHERE len(ws) >= 3),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
rep AS (SELECT doc_id FROM pg GROUP BY doc_id
        HAVING (1000 * (SUM(c) - COUNT(*))) // SUM(c) <= 300),
ng8 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+7], ' ') AS ng
       FROM w, UNNEST(generate_series(1, len(ws) - 7)) AS t(i)
       WHERE len(ws) >= 8),
bench8 AS (SELECT DISTINCT ng FROM ng8 WHERE doc_id % 20 = 7),
contam AS (SELECT DISTINCT ng8.doc_id FROM ng8 JOIN bench8 USING (ng)
           WHERE ng8.doc_id % 20 <> 7),
samp AS (SELECT doc_id FROM documents
         WHERE CAST(('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1000
               < CASE lang WHEN 'en' THEN 600 WHEN 'de' THEN 300
                           WHEN 'es' THEN 300 WHEN 'fr' THEN 300
                           WHEN 'zh' THEN 150 ELSE 0 END)"""

_MIX_FINAL_SELECT = """
SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN rep ON rep.doc_id = d.doc_id
WHERE d.doc_id % 20 <> 7
  AND d.doc_id NOT IN (SELECT doc_id FROM drops)
  AND d.doc_id NOT IN (SELECT doc_id FROM contam)
  AND d.doc_id IN (SELECT doc_id FROM samp){extra_gate}
GROUP BY d.lang
"""

SQL_CORPUS_MIX_CLEAN = (
    "WITH RECURSIVE\n" + _MIX_PREFIX_CTES + r""",
q AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE len(string_split_regex(trim(text), '\s+')) >= 20
        AND (length(text) - length(replace(text, 'the', ''))) / 3 > 0)"""
    + _MIX_FINAL_SELECT.format(extra_gate="")
)


PAIRS.update({"corpus_mix_clean": (q_corpus_mix_clean, SQL_CORPUS_MIX_CLEAN)})


# BPE-ish pretokenizer (GPT-2 shape, reduced to the Java-regex/RE2
# intersection: no \p classes, no lookahead): a word / number / punct
# run with its leading space, or a whitespace run. Verified to produce
# identical piece sequences in Spark and DuckDB.
_BPE_PAT = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def q_docs_bpe_tokens(spark, sf):
    """Token counting, tokenizer-aware: whitespace tokens beside a
    BPE-ish pretokenizer piece count and the integer chars-per-piece
    ratio — the number that actually budgets training data (a low
    ratio flags punctuation/code-like text that explodes under BPE)."""
    d = _t(spark, sf, "documents")
    pieces = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0)
    n_pieces = F.size(pieces).cast("long")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_ws_tokens"),
        n_pieces.alias("n_bpe_pieces"),
        F.when(n_pieces == 0, F.lit(0))
        .otherwise(F.expr(f"(1000 * length(text)) DIV size(regexp_extract_all(text, '{_BPE_PAT}', 0))"))
        .cast("long")
        .alias("milli_chars_per_piece"),
    )


SQL_BPE_TOKENS = rf"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe_pieces,
       CAST(CASE WHEN len(regexp_extract_all(text, '{_BPE_PAT}')) = 0 THEN 0
                 ELSE (1000 * length(text))
                      // len(regexp_extract_all(text, '{_BPE_PAT}')) END
            AS BIGINT) AS milli_chars_per_piece
FROM documents
"""


PAIRS.update({"docs_bpe_tokens": (q_docs_bpe_tokens, SQL_BPE_TOKENS)})


def q_embedding_decontam(spark, sf):
    """Embedding-side benchmark decontamination: flag corpus vectors
    within cosine >= 0.35 of any benchmark vector (bench = vec_id % 25
    == 3) — catches paraphrased eval items that n-gram checks miss.
    Bench broadcast; integerized max cosine keeps floats out of hashed
    columns."""
    from cola_spark.operators.similarity import embedding_decontam

    e = _t(spark, sf, "embeddings")
    return embedding_decontam(
        e.filter(F.col("vec_id") % 25 != 3),
        e.filter(F.col("vec_id") % 25 == 3),
        min_sim_x1000=350,
    )


SQL_EMB_DECONTAM = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
best AS (SELECT c.vec_id,
                CAST(MAX(FLOOR(list_cosine_similarity(c.v, b.v) * 1000)) AS BIGINT)
                  AS best_sim_x1000
         FROM e c CROSS JOIN e b
         WHERE c.vec_id % 25 <> 3 AND b.vec_id % 25 = 3
         GROUP BY c.vec_id)
-- complete decision table: every corpus vector gets a row even when the
-- bench is empty (sentinel -1001, contaminated=false) — mirrors the
-- operator's left-join-back contract
SELECT c.vec_id,
       COALESCE(best_sim_x1000, CAST(-1001 AS BIGINT)) AS best_sim_x1000,
       COALESCE(best_sim_x1000 >= 350, FALSE) AS contaminated
FROM (SELECT vec_id FROM e WHERE vec_id % 25 <> 3) c
LEFT JOIN best USING (vec_id)
"""


def q_docs_pii_scrub(spark, sf):
    """PII redaction over documents with deterministically injected
    contact strings (the corpus itself has none — both engines append
    the identical doc_id-derived email/IP/phone suffix, so the oracle
    verifies real scrubbing work, not a pass-through)."""
    from cola_spark.operators.redact import redact_pii

    d = _t(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 010-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    return redact_pii(injected)


SQL_PII_SCRUB = r"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 (555) 010-'
              || lpad(CAST(doc_id AS VARCHAR), 4, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t0
  FROM documents),
s1 AS (SELECT doc_id, t0,
              CAST(len(regexp_extract_all(t0,
                '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT)
                AS n_emails,
              regexp_replace(t0,
                '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z][A-Za-z]+',
                '[EMAIL]', 'g') AS t1
       FROM inj),
s2 AS (SELECT doc_id, n_emails,
              CAST(len(regexp_extract_all(t1,
                '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
              regexp_replace(t1,
                '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
                '[IP]', 'g') AS t2
       FROM s1),
s3 AS (SELECT doc_id, n_emails, n_ips,
              CAST(len(regexp_extract_all(t2,
                '\+?[0-9][0-9()\-. ]{6,}[0-9]')) AS BIGINT) AS n_phones,
              regexp_replace(t2, '\+?[0-9][0-9()\-. ]{6,}[0-9]',
                '[PHONE]', 'g') AS clean_text
       FROM s2)
SELECT doc_id, n_emails, n_ips, n_phones, clean_text FROM s3
"""


PAIRS.update({
    "embedding_decontam": (q_embedding_decontam, SQL_EMB_DECONTAM),
    "docs_pii_scrub": (q_docs_pii_scrub, SQL_PII_SCRUB),
})


def q_ann_ivfpq_topk(spark, sf):
    """IVF+PQ approximate top-5 — the canonical web-scale ANN shape:
    IVF cells prune to nprobe/n_cells of the corpus, PQ/ADC scores the
    survivors from 16-byte codes. Composition of the two oracled parts;
    DuckDB reproduces the whole pipeline."""
    from cola_spark.operators.similarity import ivfpq_topk

    e = _t(spark, sf, "embeddings")
    return ivfpq_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, n_cells=8, nprobe=2,
        n_sub=_PQ_M, n_codes=_PQ_K, sub_dim=_PQ_D,
    ).select("query_id", "neighbor_id", "rank")


def _sql_ann_ivfpq(m: int = _PQ_M, k: int = _PQ_K, d: int = _PQ_D,
                   n_cells: int = 8, nprobe: int = 2) -> str:
    ms = ", ".join(str(i) for i in range(m))
    pivot = "\n                  + ".join(
        f"MAX(CASE WHEN m = {i} THEN t END)" for i in range(m)
    )
    return f"""
WITH cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS ce
  FROM embeddings ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)) LIMIT {n_cells}),
corpus_cells AS (
  SELECT vec_id AS neighbor_id, cent_id AS cell FROM (
    SELECT e.vec_id, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce) DESC,
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c)
  WHERE rn = 1),
query_cells AS (
  SELECT vec_id AS query_id, qe, cent_id AS cell FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS qe, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.ce) DESC,
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
  WHERE rn <= {nprobe}),
src AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))) - 1 AS INTEGER) AS code
  FROM embeddings ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)) LIMIT {k}),
cb AS (SELECT m, code, array_slice(v, m*{d} + 1, m*{d} + {d}) AS cw
       FROM src, UNNEST([{ms}]) AS t(m)),
corp AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
         FROM embeddings),
enc1 AS (SELECT neighbor_id, m, code,
                ROW_NUMBER() OVER (
                  PARTITION BY neighbor_id, m
                  ORDER BY list_cosine_similarity(
                             array_slice(cv, m*{d} + 1, m*{d} + {d}), cw) DESC,
                           code) AS rn
         FROM corp CROSS JOIN cb),
codes AS (SELECT neighbor_id, m, code FROM enc1 WHERE rn = 1),
terms AS (SELECT qc.query_id, c.neighbor_id, c.m,
                 list_dot_product(array_slice(qc.qe, c.m*{d} + 1, c.m*{d} + {d}),
                                  b.cw) AS t
          FROM query_cells qc
          JOIN corpus_cells ic ON ic.cell = qc.cell
          JOIN codes c ON c.neighbor_id = ic.neighbor_id
          JOIN cb b ON b.m = c.m AND b.code = c.code
          WHERE ic.neighbor_id <> qc.query_id),
scores AS (SELECT query_id, neighbor_id,
                  {pivot} AS score
           FROM terms GROUP BY 1, 2)
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         AS rank
FROM scores QUALIFY rank <= 5
"""


SQL_ANN_IVFPQ = _sql_ann_ivfpq()

PAIRS.update({"ann_ivfpq_topk": (q_ann_ivfpq_topk, SQL_ANN_IVFPQ)})


# ---------------------------------------------------------------------------
# Trained quantizers (VERDICT r3 #4): the hash-seeded codebook/centroids above
# are only a k-means INIT — recall@5 0.38 at the 16x4 geometry. These queries
# run the Lloyd-TRAINED pipeline (similarity.pq_codebook/ivf_cells
# train_iters>0) at the finer 32x2 geometry with 64 codes: recall@5 0.80 vs
# brute force at sf0.001. Training stays DuckDB-oracled because every step is
# engine-stable: integer-grid codewords (floor(x*scale)), BIGINT floor-mean
# updates (associative — immune to float summation order), expanded left-
# associated scalar L2/dot folds, and deterministic tie-breaks (lower
# code/cent_id). The oracle SQL below UNROLLS the iterations as CTE pairs.
# ---------------------------------------------------------------------------

_PQT_M, _PQT_K, _PQT_D, _PQT_T, _PQT_S = 32, 64, 2, 3, 10000


def _sql_train_pred(permille: int) -> str:
    """The md5-permille training-sample predicate (similarity.
    _train_sample) as DuckDB SQL; empty string at permille>=1000."""
    if permille >= 1000:
        return ""
    return (
        " WHERE CAST(('0x' || substr(md5('train:' || CAST(vec_id AS VARCHAR))"
        f", 1, 15)) AS BIGINT) % 1000 < {permille}"
    )


def _sql_pq_train_ctes(
    m: int, k: int, d: int, iters: int, scale: int,
    train_permille: int = 1000,
) -> list[str]:
    """CTE chain: src/corp/sub/cb0 + (a{t}, u{t}, cb{t}) per Lloyd
    iteration. cb{iters} is the trained codebook with integer-grid
    codeword columns c0..c{d-1} (exact doubles). train_permille<1000
    restricts the init selection AND the Lloyd input to the md5-bucket
    training sample (tsub) while `sub` (used by the encode tail) stays
    the full corpus — mirroring similarity._train_sample."""
    pred = _sql_train_pred(train_permille)
    tsub = "tsub" if pred else "sub"
    ms = ", ".join(str(i) for i in range(m))
    xs = ", ".join(f"cv[m*{d} + {j + 1}] AS x{j}" for j in range(d))
    c0 = ", ".join(f"FLOOR(v[m*{d} + {j + 1}] * {scale}) AS c{j}" for j in range(d))
    d2 = " + ".join(
        f"(s.x{j} * {scale} - c.c{j}) * (s.x{j} * {scale} - c.c{j})"
        for j in range(d)
    )
    sums = ", ".join(
        f"FLOOR(CAST(SUM(CAST(FLOOR(s.x{j} * {scale}) AS BIGINT)) AS DOUBLE)"
        f" / COUNT(*)) AS u{j}"
        for j in range(d)
    )
    carry = ", ".join(f"COALESCE(u.u{j}, c.c{j}) AS c{j}" for j in range(d))
    ctes = [
        f"""src AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v,
         CAST(ROW_NUMBER() OVER (
           ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR))) - 1 AS INTEGER) AS code
  FROM embeddings{pred} ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)) LIMIT {k})""",
        "corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)",
        f"sub AS (SELECT vec_id, m, {xs} FROM corp, UNNEST([{ms}]) AS t(m))",
        f"cb0 AS (SELECT m, code, {c0} FROM src, UNNEST([{ms}]) AS t(m))",
    ]
    if pred:
        ctes.insert(3, f"""tsub AS (
  SELECT s.* FROM sub s
  WHERE s.vec_id IN (SELECT vec_id FROM embeddings{pred}))""")
    for t in range(1, iters + 1):
        ctes.append(f"""a{t} AS (
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {d2} ASC, c.code) AS rn
    FROM {tsub} s JOIN cb{t - 1} c ON c.m = s.m) WHERE rn = 1)""")
        ctes.append(f"""u{t} AS (
  SELECT a.m, a.code, {sums}
  FROM a{t} a JOIN {tsub} s ON s.vec_id = a.vec_id AND s.m = a.m
  GROUP BY a.m, a.code)""")
        ctes.append(f"""cb{t} AS (
  SELECT c.m, c.code, {carry}
  FROM cb{t - 1} c LEFT JOIN u{t} u ON u.m = c.m AND u.code = c.code)""")
    return ctes


def _sql_pq_trained_tail(m: int, d: int, iters: int, scale: int) -> list[str]:
    """enc (L2 argmin against the trained codebook — the same expanded
    expression the training assignment used) + q: shared by the PQ and
    IVF+PQ trained oracles."""
    d2 = " + ".join(
        f"(s.x{j} * {scale} - c.c{j}) * (s.x{j} * {scale} - c.c{j})"
        for j in range(d)
    )
    return [
        f"""enc AS (
  SELECT vec_id AS neighbor_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {d2} ASC, c.code) AS rn
    FROM sub s JOIN cb{iters} c ON c.m = s.m) WHERE rn = 1)""",
        "q AS (SELECT vec_id AS query_id, cv AS qv FROM corp WHERE vec_id < 10)",
    ]


def _pq_pivot(m: int) -> str:
    return "\n                  + ".join(
        f"MAX(CASE WHEN m = {i} THEN t END)" for i in range(m)
    )


def _sql_ann_pq_trained(
    m: int = _PQT_M, k: int = _PQT_K, d: int = _PQT_D,
    iters: int = _PQT_T, scale: int = _PQT_S,
) -> str:
    dot = " + ".join(f"q.qv[c.m*{d} + {j + 1}] * b.c{j}" for j in range(d))
    ctes = _sql_pq_train_ctes(m, k, d, iters, scale)
    ctes += _sql_pq_trained_tail(m, d, iters, scale)
    ctes.append(f"""terms AS (
  SELECT q.query_id, c.neighbor_id, c.m, {dot} AS t
  FROM q CROSS JOIN enc c
  JOIN cb{iters} b ON b.m = c.m AND b.code = c.code
  WHERE c.neighbor_id <> q.query_id)""")
    ctes.append(f"""scores AS (
  SELECT query_id, neighbor_id, {_pq_pivot(m)} AS score
  FROM terms GROUP BY 1, 2)""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         AS rank
FROM scores QUALIFY rank <= 5
"""
    )


def _sql_ivf_train_ctes(
    n_cells: int, iters: int, scale: int, dim: int = 64,
    train_permille: int = 1000,
) -> list[str]:
    """icb0 + (ia{t}, iu{t}, icb{t}) per Lloyd iteration over the FULL
    vectors (cosine assignment — scale-invariant on the integer grid —
    BIGINT floor-mean update, empty cells carried). Requires `corp`
    from _sql_pq_train_ctes. train_permille<1000 restricts init AND
    Lloyd to the md5-bucket training sample (tcorp)."""
    pred = _sql_train_pred(train_permille)
    tcorp = "tcorp" if pred else "corp"
    ctes = [f"""icb0 AS (
  SELECT vec_id AS cent_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> FLOOR(x * {scale})) AS ce
  FROM embeddings{pred} ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)) LIMIT {n_cells})"""]
    if pred:
        ctes.append(f"""tcorp AS (
  SELECT c.* FROM corp c
  WHERE c.vec_id IN (SELECT vec_id FROM embeddings{pred}))""")
    for t in range(1, iters + 1):
        ctes.append(f"""ia{t} AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.cv, c.ce) DESC, c.cent_id) AS rn
    FROM {tcorp} e CROSS JOIN icb{t - 1} c) WHERE rn = 1)""")
        ctes.append(f"""iu{t} AS (
  SELECT cell, list(mv ORDER BY pos) AS ue FROM (
    SELECT a.cell, p.pos,
           FLOOR(CAST(SUM(CAST(FLOOR(e.cv[p.pos] * {scale}) AS BIGINT)) AS DOUBLE)
                 / COUNT(*)) AS mv
    FROM ia{t} a JOIN {tcorp} e USING (vec_id), UNNEST(range(1, {dim + 1})) AS p(pos)
    GROUP BY a.cell, p.pos) GROUP BY cell)""")
        ctes.append(f"""icb{t} AS (
  SELECT c.cent_id, COALESCE(u.ue, c.ce) AS ce
  FROM icb{t - 1} c LEFT JOIN iu{t} u ON u.cell = c.cent_id)""")
    return ctes


def _sql_ann_ivfpq_trained(
    m: int = _PQT_M, k: int = _PQT_K, d: int = _PQT_D,
    iters: int = _PQT_T, scale: int = _PQT_S,
    n_cells: int = 8, nprobe: int = 2, dim: int = 64,
    train_permille: int = 1000,
) -> str:
    dot = " + ".join(f"q.qv[c.m*{d} + {j + 1}] * b.c{j}" for j in range(d))
    ctes = _sql_pq_train_ctes(m, k, d, iters, scale, train_permille)
    ctes += _sql_ivf_train_ctes(n_cells, iters, scale, dim, train_permille)
    ctes += _sql_pq_trained_tail(m, d, iters, scale)
    ctes.append(f"""ccell AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.cv, c.ce) DESC, c.cent_id) AS rn
    FROM corp e CROSS JOIN icb{iters} c) WHERE rn = 1)""")
    ctes.append(f"""qcell AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.cv, c.ce) DESC, c.cent_id) AS rn
    FROM corp e CROSS JOIN icb{iters} c WHERE e.vec_id < 10) WHERE rn <= {nprobe})""")
    ctes.append(f"""terms AS (
  SELECT qc.query_id, c.neighbor_id, c.m, {dot} AS t
  FROM qcell qc
  JOIN ccell ic ON ic.cell = qc.cell
  JOIN enc c ON c.neighbor_id = ic.neighbor_id
  JOIN cb{iters} b ON b.m = c.m AND b.code = c.code
  JOIN q ON q.query_id = qc.query_id
  WHERE ic.neighbor_id <> qc.query_id)""")
    ctes.append(f"""scores AS (
  SELECT query_id, neighbor_id, {_pq_pivot(m)} AS score
  FROM terms GROUP BY 1, 2)""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         AS rank
FROM scores QUALIFY rank <= 5
"""
    )


def q_ann_pq_trained_topk(spark, sf):
    """PQ ADC top-5 with a Lloyd-TRAINED codebook (3 engine-stable
    k-means iterations, 32 subspaces x 2 dims, 64 codes): recall@5 0.80
    vs brute force at sf0.001 where the hash-seeded init scores 0.38.
    The training loop itself is the distributed operator under test —
    integer-grid floor-mean updates replayed exactly by the unrolled
    CTE oracle."""
    from cola_spark.operators.similarity import pq_topk

    e = _t(spark, sf, "embeddings")
    return pq_topk(
        e.filter(F.col("vec_id") < 10), e, k=5,
        n_sub=_PQT_M, n_codes=_PQT_K, sub_dim=_PQT_D, train_iters=_PQT_T,
    ).select("query_id", "neighbor_id", "rank")


def q_ann_ivfpq_trained_topk(spark, sf):
    """IVF+PQ top-5 with BOTH quantizers Lloyd-trained (3 iterations
    each; cosine-assignment centroids, L2-assignment codebook). The
    billion-vector index shape with shippable quality — candidate
    pruning via trained cells, ADC scoring via trained codes."""
    from cola_spark.operators.similarity import ivfpq_topk

    e = _t(spark, sf, "embeddings")
    return ivfpq_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, n_cells=8, nprobe=2,
        n_sub=_PQT_M, n_codes=_PQT_K, sub_dim=_PQT_D, train_iters=_PQT_T,
    ).select("query_id", "neighbor_id", "rank")


_PQT_P = 250  # sampled-training rate: train on <=25% of the corpus


def q_ann_ivfpq_sampled_topk(spark, sf):
    """IVF+PQ top-5 with BOTH quantizers Lloyd-trained on a BOUNDED
    deterministic sample (md5-permille bucket < 250 — 25% of the
    corpus): the 100 TB training shape (FAISS trains on 10^5-10^6
    vectors, never the full corpus; full-corpus training elsewhere in
    this file is sandbox-only). The encode/serve path still scans the
    FULL corpus — only Lloyd's input shrinks. The oracle replays the
    sampled training loops as CTEs, so a wrong sample membership or a
    gradient computed over the wrong rows hash-fails."""
    from cola_spark.operators.similarity import ivfpq_topk

    e = _t(spark, sf, "embeddings")
    return ivfpq_topk(
        e.filter(F.col("vec_id") < 10), e, k=5, n_cells=8, nprobe=2,
        n_sub=_PQT_M, n_codes=_PQT_K, sub_dim=_PQT_D, train_iters=_PQT_T,
        train_permille=_PQT_P,
    ).select("query_id", "neighbor_id", "rank")


SQL_ANN_PQ_TRAINED = _sql_ann_pq_trained()
SQL_ANN_IVFPQ_TRAINED = _sql_ann_ivfpq_trained()
SQL_ANN_IVFPQ_SAMPLED = _sql_ann_ivfpq_trained(train_permille=_PQT_P)

PAIRS.update({
    "ann_pq_trained_topk": (q_ann_pq_trained_topk, SQL_ANN_PQ_TRAINED),
    "ann_ivfpq_trained_topk": (q_ann_ivfpq_trained_topk, SQL_ANN_IVFPQ_TRAINED),
    "ann_ivfpq_sampled_topk": (q_ann_ivfpq_sampled_topk, SQL_ANN_IVFPQ_SAMPLED),
})


def _sql_ann_pq_refine(
    m: int = _PQT_M, k: int = _PQT_K, d: int = _PQT_D,
    iters: int = _PQT_T, scale: int = _PQT_S, rerank: int = 30,
) -> str:
    dot = " + ".join(f"q.qv[c.m*{d} + {j + 1}] * b.c{j}" for j in range(d))
    ctes = _sql_pq_train_ctes(m, k, d, iters, scale)
    ctes += _sql_pq_trained_tail(m, d, iters, scale)
    ctes.append(f"""terms AS (
  SELECT q.query_id, c.neighbor_id, c.m, {dot} AS t
  FROM q CROSS JOIN enc c
  JOIN cb{iters} b ON b.m = c.m AND b.code = c.code
  WHERE c.neighbor_id <> q.query_id)""")
    ctes.append(f"""scores AS (
  SELECT query_id, neighbor_id, {_pq_pivot(m)} AS score
  FROM terms GROUP BY 1, 2)""")
    ctes.append(f"""short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, neighbor_id) AS srn
    FROM scores) WHERE srn <= {rerank})""")
    ctes.append("""exact AS (
  SELECT s.query_id, s.neighbor_id, list_cosine_similarity(q.qv, e.cv) AS sim
  FROM short s
  JOIN corp e ON e.vec_id = s.neighbor_id
  JOIN q ON q.query_id = s.query_id)""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)
         AS rank
FROM exact QUALIFY rank <= 5
"""
    )


def q_ann_pq_refine_topk(spark, sf):
    """The production ANN shape end-to-end: trained-PQ ADC selects a
    30-deep shortlist per query, exact cosine re-ranks it (FAISS
    IndexRefineFlat). The exact pass touches 30 raw vectors per query
    — noise beside the compressed scan — and lifts recall@5 to 1.00 at
    sf0.001 (trained ADC alone: 0.80)."""
    from cola_spark.operators.similarity import pq_topk

    e = _t(spark, sf, "embeddings")
    return pq_topk(
        e.filter(F.col("vec_id") < 10), e, k=5,
        n_sub=_PQT_M, n_codes=_PQT_K, sub_dim=_PQT_D,
        train_iters=_PQT_T, rerank=30,
    ).select("query_id", "neighbor_id", "rank")


SQL_ANN_PQ_REFINE = _sql_ann_pq_refine()

PAIRS.update({"ann_pq_refine_topk": (q_ann_pq_refine_topk, SQL_ANN_PQ_REFINE)})


# ---------------------------------------------------------------------------
# Learned quality classifier (VERDICT r3 #7): hashed-ngram logistic
# regression trained as DataFrame ops (operators/quality_lr.py) — integer
# logits, hard-sigmoid quantized gradients, so the unrolled training
# replays exactly in DuckDB. The query plants its own labels: docs with
# doc_id % 3 = 1 get four deterministic junk tokens appended (label 0),
# the rest are label 1 — so the oracle verifies REAL training work (the
# junk-token buckets must learn negative weights that separate the
# classes), the same injected-ground-truth trick as docs_pii_scrub.
# ---------------------------------------------------------------------------

_QLR_D, _QLR_E, _QLR_LR = 256, 8, 8.0  # 8 epochs/lr 8: full separation
# (hard-sigmoid GD converges once junk-doc logits cross -2·WS; 3 epochs
# left both classes positive — measured at sf0.001)
_QLR_JUNK = " zqj0 zqj1 zqj2 zqj3"


def _qlr_ctes(
    n_buckets: int = _QLR_D, epochs: int = _QLR_E, lr: float = _QLR_LR,
    junk: str = _QLR_JUNK,
) -> list[str]:
    """The unrolled-training CTE chain (base → feats → w0..wE → zs),
    shared by the standalone docs_quality_lr oracle and the composed
    corpus_mix_clean_lr oracle."""
    ws4 = float(4 * 65536)
    rs = float(65536)
    ctes = [
        f"""base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 1 THEN text || '{junk}' ELSE text END AS text,
         CASE WHEN doc_id % 3 = 1 THEN 0.0 ELSE 1.0 END AS y
  FROM documents)""",
        r"""toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
  FROM base)""",
        f"""feats AS (
  SELECT DISTINCT doc_id,
         CAST(CAST(('0x' || substr(md5('q:' || tok), 1, 15)) AS BIGINT)
              % {n_buckets} AS INTEGER) AS bucket
  FROM toks)""",
        "w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS w FROM feats)",
    ]
    for t in range(1, epochs + 1):
        ctes.append(f"""z{t} AS (
  SELECT f.doc_id, SUM(w.w) AS z
  FROM feats f JOIN w{t - 1} w USING (bucket) GROUP BY f.doc_id)""")
        ctes.append(f"""r{t} AS (
  SELECT b.doc_id,
         CAST(FLOOR((b.y - LEAST(GREATEST(
                0.5 + CAST(COALESCE(z.z, 0) AS DOUBLE) / {ws4}, 0.0), 1.0))
              * {rs}) AS BIGINT) AS r
  FROM base b LEFT JOIN z{t} z USING (doc_id))""")
        ctes.append(f"""g{t} AS (
  SELECT f.bucket, SUM(r.r) AS g
  FROM feats f JOIN r{t} r USING (doc_id) GROUP BY f.bucket)""")
        ctes.append(f"""w{t} AS (
  SELECT w.bucket,
         CAST(w.w + FLOOR((CAST(COALESCE(g.g, 0) AS DOUBLE) * {lr})
              / (SELECT CAST(COUNT(*) AS DOUBLE) FROM base)) AS BIGINT) AS w
  FROM w{t - 1} w LEFT JOIN g{t} g USING (bucket))""")
    ctes.append(f"""zs AS (
  SELECT f.doc_id, SUM(w.w) AS z
  FROM feats f JOIN w{epochs} w USING (bucket) GROUP BY f.doc_id)""")
    return ctes


def _sql_docs_quality_lr(
    n_buckets: int = _QLR_D, epochs: int = _QLR_E, lr: float = _QLR_LR,
    junk: str = _QLR_JUNK,
) -> str:
    return (
        "WITH " + ",\n".join(_qlr_ctes(n_buckets, epochs, lr, junk)) + """
SELECT b.doc_id,
       CAST(COALESCE(z.z, 0) AS BIGINT) AS logit,
       COALESCE(z.z, 0) > 0 AS keep
FROM base b LEFT JOIN zs z USING (doc_id)
"""
    )


def q_docs_quality_lr(spark, sf):
    """Hashed-ngram logistic-regression quality classifier, trained
    in-query (8 full-batch epochs, quantized hard-sigmoid gradients)
    on planted labels: doc_id % 3 = 1 docs carry four injected junk
    tokens (label 0). Emits one row per doc with the integer logit and
    the keep decision — the oracle replays the entire training loop as
    unrolled CTEs, so a single wrong gradient anywhere hash-fails."""
    from cola_spark.operators.quality_lr import (
        score_logreg_quality, train_logreg_quality,
    )

    d = _t(spark, sf, "documents")
    base = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(_QLR_JUNK))
        ).otherwise(F.col("text")).alias("text"),
        F.when(F.col("doc_id") % 3 == 1, F.lit(0.0)).otherwise(F.lit(1.0)).alias("y"),
    )
    w = train_logreg_quality(base, epochs=_QLR_E, n_buckets=_QLR_D, lr=_QLR_LR)
    return score_logreg_quality(base, w, n_buckets=_QLR_D)


SQL_QUALITY_LR = _sql_docs_quality_lr()

PAIRS.update({"docs_quality_lr": (q_docs_quality_lr, SQL_QUALITY_LR)})


def q_corpus_mix_clean_lr(spark, sf):
    """corpus_mix_clean with the LEARNED quality gate (VERDICT r4 #9):
    the flagship trainer-corpus composition — near-dup cluster drops,
    repetition gate, decontamination, stratified domain mix — but the
    quality decision comes from the trained logistic-regression scorer
    (docs_quality_lr) instead of the hand-tuned heuristic. Token counts
    are the raw whitespace counts (the heuristic's >=20-token floor is
    the classifier's job now). The oracle replays the ENTIRE pipeline
    including all 8 training epochs as CTEs."""
    from cola_spark.operators.clusters import dedup_keep_set

    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 20 != 7)
    drops = dedup_keep_set(q_jaccard_prefix_pairs(spark, sf)).filter(~F.col("keep"))
    tokens = q_docs_token_count(spark, sf).select("doc_id", "n_tokens")
    lr_keep = q_docs_quality_lr(spark, sf).filter(F.col("keep")).select("doc_id")
    low_rep = q_docs_repetition(spark, sf).filter(
        F.col("dup_permille") <= 300
    ).select("doc_id")
    contaminated = q_decontam_overlap(spark, sf).filter(
        F.col("contaminated")
    ).select("doc_id")
    sample = q_domain_sample(spark, sf).select("doc_id")
    return (
        d.join(drops.select("doc_id"), "doc_id", "left_anti")
        .join(tokens, "doc_id")
        .join(low_rep, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .join(sample, "doc_id", "semi")
        .join(lr_keep, "doc_id", "semi")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


SQL_CORPUS_MIX_LR = (
    "WITH RECURSIVE\n" + _MIX_PREFIX_CTES + ",\n"
    + ",\n".join(_qlr_ctes()) + r""",
q AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents)"""
    + _MIX_FINAL_SELECT.format(
        extra_gate="\n  AND d.doc_id IN (SELECT b.doc_id FROM base b"
        "\n                   LEFT JOIN zs z USING (doc_id)"
        "\n                   WHERE COALESCE(z.z, 0) > 0)"
    )
)

PAIRS.update({"corpus_mix_clean_lr": (q_corpus_mix_clean_lr, SQL_CORPUS_MIX_LR)})


# ------------------------------------------------ bloom gate (round 5)


def q_bloom_gate(spark, sf):
    """SURVEY §2 row 10 companion — the reference's LITERAL bloom
    seen-set (cola/core/bloomfilter.py: k hash positions over a bit
    array) expressed relationally so DuckDB replays the bit arithmetic
    exactly: bits = distinct (part, pos) rows of the seen keys' k md5
    positions; a candidate is bloom-positive iff all k of its positions
    exist. Output pins maybe_seen / actually_seen / false_pos per
    candidate key — never-false-negative is a checkable invariant
    (actually_seen ⇒ maybe_seen), and the FP rows are the exact keys
    the blob fast path (filters.bloom.BloomFilter) would route to
    verification in hybrid mode."""
    from cola_spark.operators.dedup import relational_bloom_gate

    seen = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("orderkey"))
    )
    cands = _t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("orderkey")
    )
    # m_bits is PER-PARTITION bit space: 16384 x 8 parts = 2^17 total
    # bits for ~4.9k seen keys at sf0.01 (~11% fill, FP ~0.1% - the
    # gate's false_pos rows are real bloom collisions, not padding).
    _, gated = relational_bloom_gate(seen, cands, "orderkey", m_bits=1 << 14)
    return gated


def _sql_bloom_pos(expr: str, seed: str, mod: int) -> str:
    return f"({_md5i(expr, seed)} % {mod})"


SQL_BLOOM_GATE = f"""
WITH seen AS (SELECT DISTINCT o_orderkey AS orderkey FROM orders
              WHERE o_orderstatus = 'F'),
cand AS (SELECT DISTINCT l_orderkey AS orderkey FROM lineitem),
js AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(j)),
bits AS (
  SELECT DISTINCT
    {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "blp", 8)} AS part,
    CASE j
      WHEN 0 THEN {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "bl0", 16384)}
      WHEN 1 THEN {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "bl1", 16384)}
      ELSE        {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "bl2", 16384)}
    END AS pos
  FROM seen, js),
probe AS (
  SELECT DISTINCT orderkey,
    {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "blp", 8)} AS part,
    CASE j
      WHEN 0 THEN {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "bl0", 16384)}
      WHEN 1 THEN {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "bl1", 16384)}
      ELSE        {_sql_bloom_pos("CAST(orderkey AS VARCHAR)", "bl2", 16384)}
    END AS pos
  FROM cand, js),
agg AS (
  SELECT p.orderkey,
         COUNT(*) = SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
           AS maybe_seen
  FROM probe p LEFT JOIN bits b ON p.part = b.part AND p.pos = b.pos
  GROUP BY p.orderkey)
SELECT a.orderkey, a.maybe_seen,
       s.orderkey IS NOT NULL AS actually_seen,
       (a.maybe_seen AND s.orderkey IS NULL) AS false_pos
FROM agg a LEFT JOIN seen s ON a.orderkey = s.orderkey
"""


# ----------------------------- pHash banded Hamming pairs (round 5)


def q_phash_band_pairs(spark, sf):
    """SQL-oracled run of the IMAGE near-dup core (multimodal.
    phash_near_dup_pairs → textdedup.banded_hamming_pairs): a 64-bit
    pHash column with planted near-duplicates — groups of 4 docs share
    an md5 base hash, each member xor-flips (doc_id % 4) md5-chosen
    bits, so within-group Hamming spans 0..6 and the max_hamming=3
    verify keeps only part of each group — then the production 4-band
    bucketing + bit_count(xor) verify. DuckDB replays hash planting,
    banding and verify bit-for-bit — this upgrades the pHash path from
    the rows-only image oracle (phash_near_dups) to full value-hash
    verification."""
    pairs = _planted_phash_pairs(spark, sf)
    return pairs.select(
        F.col("img_a").alias("doc_a"),
        F.col("img_b").alias("doc_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _planted_phash_frame(spark, sf):
    """(image_id, phash): the planted 64-bit pHash column — md5 group
    bases (groups of 4 doc_ids), each member xor-flipping (doc_id % 4)
    md5-chosen bits."""
    h = _md5_col
    docs = _t(spark, sf, "documents")
    base = h(F.concat(F.lit("ph:"), F.floor(F.col("doc_id") / 4)))
    nf = F.col("doc_id") % 4
    phash = base
    for j in range(3):
        p = F.pmod(
            h(F.concat(F.lit("fl:"), F.col("doc_id"), F.lit(f"_{j}"))),
            F.lit(60),
        ).cast("int")
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), _p{j})")
        docs = docs.withColumn(f"_p{j}", p)
        phash = F.when(nf > j, phash.bitwiseXOR(bit)).otherwise(phash)
    return docs.select(F.col("doc_id").alias("image_id"), phash.alias("phash"))


def _planted_phash_pairs(spark, sf):
    from cola_spark.operators.multimodal import phash_near_dup_pairs

    return phash_near_dup_pairs(
        _planted_phash_frame(spark, sf), max_hamming=3, bands=4
    )


def _md5_col(col):
    """Spark twin of _md5i: 60 bits of md5 over an already-seeded
    string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _sql_phash_flip(j: int) -> str:
    seed = f"'fl:' || CAST(doc_id AS VARCHAR) || '_{j}'"
    h = f"CAST(('0x' || substr(md5({seed}), 1, 15)) AS BIGINT)"
    return f"(CAST(1 AS BIGINT) << CAST(({h} % 60) AS INTEGER))"


_SQL_PH_CTES = f"""ph AS (
  SELECT doc_id,
    xor(xor(xor(
      CAST(('0x' || substr(md5('ph:' ||
        CAST(CAST(FLOOR(doc_id / 4) AS BIGINT) AS VARCHAR)), 1, 15)) AS BIGINT),
      CASE WHEN doc_id % 4 > 0 THEN {_sql_phash_flip(0)} ELSE 0 END),
      CASE WHEN doc_id % 4 > 1 THEN {_sql_phash_flip(1)} ELSE 0 END),
      CASE WHEN doc_id % 4 > 2 THEN {_sql_phash_flip(2)} ELSE 0 END)
      AS phash
  FROM documents),
bands AS (
  SELECT doc_id, phash, b.band_id,
         (phash >> (16 * b.band_id)) & 65535 AS band_val
  FROM ph, (VALUES (0), (1), (2), (3)) AS b(band_id)),
ppairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3)"""

SQL_PHASH_BAND = f"""
WITH {_SQL_PH_CTES}
SELECT doc_a, doc_b, hamming FROM ppairs
"""


def q_phash_caption_consolidate(spark, sf):
    """Cross-modal caption consolidation — the LAION-style 'same image,
    many captions' step: near-dup image clusters (planted pHash → the
    production banded-Hamming pairs → connected components) collapse to
    ONE canonical caption, the representative (minimum-id) member's
    text. Singleton images keep their own caption. Output is the full
    image-caption table re-keyed by cluster: (doc_id, cluster_id,
    is_rep, canon_caption) — downstream keeps is_rep rows for a
    caption-deduped corpus, or rewrites captions in place. The oracle
    replays pHash planting, banding, Hamming verify AND the component
    closure (recursive CTE) end-to-end."""
    from cola_spark.operators.multimodal import caption_consolidate

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    pairs = _planted_phash_pairs(spark, sf)
    return caption_consolidate(docs, pairs, a_col="img_a", b_col="img_b")


SQL_PHASH_CAPTIONS = f"""
WITH RECURSIVE {_SQL_PH_CTES},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM ppairs
          UNION SELECT doc_b, doc_a FROM ppairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
cl AS (SELECT src AS doc_id, LEAST(MIN(dst), src) AS cluster_id
       FROM reach GROUP BY src),
allc AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
SELECT a.doc_id, a.cluster_id,
       a.doc_id = a.cluster_id AS is_rep,
       c.text AS canon_caption
FROM allc a JOIN documents c ON c.doc_id = a.cluster_id
"""

PAIRS.update({
    "bloom_gate": (q_bloom_gate, SQL_BLOOM_GATE),
    "phash_band_pairs": (q_phash_band_pairs, SQL_PHASH_BAND),
    "phash_caption_consolidate": (
        q_phash_caption_consolidate, SQL_PHASH_CAPTIONS,
    ),
})


# ------------------------------------------------ audio path (round 5)


def q_audio_features(spark, sf):
    """Vectorized audio feature extraction over the synthetic WAVF
    table (binary → integer features; deterministic, rows-only — the
    audio twin of image_features; exact sequential oracle in
    LOCAL_ORACLES)."""
    from cola_spark.operators.multimodal import audio_features
    from cola_spark.sources import gen_audio

    return audio_features(gen_audio(spark, 64)).orderBy("audio_id")


def local_oracle_audio_features(spark, sf):
    import hashlib

    import numpy as np
    import pandas as pd

    from cola_spark.codecs import gen_samples

    rows = []
    for i in range(64):
        audio_id = f"aud{i:08d}"
        d = hashlib.md5(audio_id.encode()).digest()
        sr = (8000, 16000)[d[10] % 2]
        n = 800 + (int.from_bytes(d[11:13], "little") % 3200)
        s = gen_samples(audio_id, n, sr)
        x = s.astype(np.float64) / 32768.0
        rows.append((
            audio_id, sr, n, n * 1000 // sr,
            int(np.sqrt(np.mean(x * x)) * 1000),
            int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1]))),
            int(np.abs(x).max() * 1000),
        ))
    pdf = pd.DataFrame(
        rows,
        columns=["audio_id", "sample_rate", "n_samples", "duration_ms",
                 "rms_x1000", "zero_crossings", "peak_x1000"],
    )
    return pdf.astype({"sample_rate": "int32", "n_samples": "int32"})


PAIRS.update({"audio_features": (q_audio_features, None)})
LOCAL_ORACLES["audio_features"] = local_oracle_audio_features


def q_phash_caption_best(spark, sf):
    """caption_consolidate(strategy="longest") — pick each image
    cluster's most descriptive caption (max length, ties to the smaller
    doc_id) instead of the representative's; the LAION-style canonical-
    caption heuristic. Same planted-pHash clusters; the oracle adds a
    per-cluster (len DESC, doc_id ASC) window over the closure."""
    from cola_spark.operators.multimodal import caption_consolidate

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    pairs = _planted_phash_pairs(spark, sf)
    return caption_consolidate(
        docs, pairs, a_col="img_a", b_col="img_b", strategy="longest"
    )


SQL_PHASH_CAPTIONS_BEST = f"""
WITH RECURSIVE {_SQL_PH_CTES},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM ppairs
          UNION SELECT doc_b, doc_a FROM ppairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
cl AS (SELECT src AS doc_id, LEAST(MIN(dst), src) AS cluster_id
       FROM reach GROUP BY src),
allc AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
canon AS (
  SELECT cluster_id, text AS canon_caption FROM (
    SELECT a.cluster_id, d.text,
           ROW_NUMBER() OVER (PARTITION BY a.cluster_id
                              ORDER BY len(d.text) DESC, d.doc_id ASC) AS rn
    FROM allc a JOIN documents d ON d.doc_id = a.doc_id)
  WHERE rn = 1)
SELECT a.doc_id, a.cluster_id,
       a.doc_id = a.cluster_id AS is_rep,
       c.canon_caption
FROM allc a JOIN canon c USING (cluster_id)
"""

PAIRS.update({"phash_caption_best": (q_phash_caption_best, SQL_PHASH_CAPTIONS_BEST)})


# ------------------------------------------ host link authority (round 5)


def q_host_pagerank(spark, sf):
    """Integer-grid damped PageRank (operators/linkrank.py) over a
    deterministic 100-node host graph derived from orders
    (src = o_custkey % 100, dst = o_orderkey % 100) — the adaptive
    link-authority priority signal static per-unit priorities lack.
    The oracle unrolls all 3 synchronous iterations as CTEs over exact
    floor-of-division arithmetic: a wrong damping constant, a missed
    dangling-mass rule or a float creeping into the grid hash-fails."""
    from cola_spark.operators.linkrank import host_pagerank

    o = _t(spark, sf, "orders")
    e = o.select(
        (F.col("o_custkey") % 100).alias("src"),
        (F.col("o_orderkey") % 100).alias("dst"),
    )
    return host_pagerank(e, iters=3)


def _sql_pagerank(iters: int = 3, r0: int = 1 << 20,
                  d_num: int = 85, d_den: int = 100) -> str:
    tele = (r0 * (d_den - d_num)) // d_den
    ctes = [
        "e AS (SELECT DISTINCT o_custkey % 100 AS src,"
        " o_orderkey % 100 AS dst FROM orders)",
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src)",
        "ed AS (SELECT e.src, e.dst, d.out_deg FROM e JOIN deg d ON e.src = d.src)",
        f"r0 AS (SELECT host, CAST({r0} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT dst, SUM(CAST(FLOOR(({d_num} * r.rank) /"
            f" ({d_den}.0 * out_deg)) AS BIGINT)) AS in_mass"
            f" FROM ed JOIN r{i-1} r ON ed.src = r.host GROUP BY dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT n.host, CAST({tele} + COALESCE(c{i}.in_mass, 0)"
            f" AS BIGINT) AS rank FROM nodes n LEFT JOIN c{i} ON n.host = c{i}.dst)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT host, rank FROM r{iters}"


SQL_HOST_PAGERANK = _sql_pagerank()

PAIRS.update({"host_pagerank": (q_host_pagerank, SQL_HOST_PAGERANK)})


def q_authority_schedule(spark, sf):
    """The link-authority signal COMPOSED into the budget cut: per-host
    FIFO top-5 (the budget_topk_cut shape) ordered globally by the
    hosts' PageRank authority — authoritative hosts crawl first, the
    adaptive-priority scheduling cola's static ints can't express. The
    authority dense-rank runs on the 100-row host-rank frame (driver-
    scale side table, NOT corpus-scale — the per-order work stays a
    host-partitioned window + a broadcast-able join)."""
    ranks = q_host_pagerank(spark, sf)
    aw = Window.orderBy(F.desc("rank"), F.asc("host"))  # 100 rows only
    auth = ranks.select(
        "host", F.dense_rank().over(aw).cast("long").alias("authority_rank")
    )
    o = _t(spark, sf, "orders").select(
        (F.col("o_custkey") % 100).alias("host"), "o_orderkey", "o_orderpriority"
    )
    hw = Window.partitionBy("host").orderBy("o_orderpriority", "o_orderkey")
    cut = (
        o.withColumn("host_rank", F.row_number().over(hw).cast("long"))
        .filter(F.col("host_rank") <= 5)
    )
    return cut.join(F.broadcast(auth), "host").select(
        "host", "o_orderkey", "host_rank", "authority_rank"
    )


SQL_AUTHORITY_SCHEDULE = (
    _sql_pagerank().replace("\nSELECT host, rank FROM r3", ",") + r"""
auth AS (SELECT host,
                DENSE_RANK() OVER (ORDER BY rank DESC, host ASC)
                  AS authority_rank
         FROM r3),
cut AS (SELECT o_custkey % 100 AS host, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey % 100
                                  ORDER BY o_orderpriority, o_orderkey)
                 AS host_rank
        FROM orders)
SELECT c.host, c.o_orderkey, c.host_rank, a.authority_rank
FROM cut c JOIN auth a ON c.host = a.host
WHERE c.host_rank <= 5
"""
)

PAIRS.update({"authority_schedule": (q_authority_schedule, SQL_AUTHORITY_SCHEDULE)})


# ---------------------------------- CDC chunk dedup + politeness (round 5)


def q_cdc_chunk_dedup(spark, sf):
    """Content-defined chunking dedup (operators/textdedup.cdc_chunks):
    rolling 4-token window hash, boundary where the low 3 bits are
    zero, chunk = tokens between boundaries; output = every chunk
    content occurring more than once corpus-wide with its occurrence /
    doc counts — the storage-style dedup index a crawl archive keeps so
    a re-crawled page stores only its changed chunks. Boundary hashing
    uses the cross-engine md5 family; the oracle replays windowing,
    boundary selection, range reconstruction and the aggregate."""
    from cola_spark.operators.textdedup import cdc_duplicate_chunks

    return cdc_duplicate_chunks(
        _t(spark, sf, "documents"), w=4, mask_bits=3, hash_kind="md5"
    )


SQL_CDC_CHUNK_DEDUP = rf"""
WITH base AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
              FROM documents),
b2 AS (SELECT doc_id, ws, len(ws) AS n FROM base),
bnd AS (SELECT doc_id, i + 3 AS b
        FROM b2, UNNEST(generate_series(1, n - 3)) AS t(i)
        WHERE n >= 4
          AND i + 3 < n
          AND {_md5i("array_to_string(ws[i:i+3], ' ')", 77)} % 8 = 0),
ends AS (SELECT doc_id, b FROM bnd
         UNION ALL SELECT doc_id, n AS b FROM b2),
chunks AS (SELECT doc_id,
                  COALESCE(LAG(b) OVER (PARTITION BY doc_id ORDER BY b), 0)
                    + 1 AS s,
                  b AS e
           FROM ends),
ch AS (SELECT c.doc_id, c.s, c.e, c.e - c.s + 1 AS tok_len,
              md5(array_to_string(b2.ws[c.s:c.e], ' ')) AS chunk_hash
       FROM chunks c JOIN b2 ON c.doc_id = b2.doc_id)
SELECT chunk_hash,
       CAST(COUNT(*) AS BIGINT) AS occ,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(tok_len) AS BIGINT) AS tok_len
FROM ch GROUP BY chunk_hash HAVING COUNT(*) >= 2
"""

PAIRS.update({"cdc_chunk_dedup": (q_cdc_chunk_dedup, SQL_CDC_CHUNK_DEDUP)})


def q_politeness_schedule(spark, sf):
    """cola's speed control (functions/speed.py: per-host adaptive
    delay) expressed as the fetch CALENDAR it induces: each host gets a
    deterministic crawl delay (100–300 ms, md5-derived stand-in for the
    robots.txt/adaptive value), its queue FIFO-ordered by (priority,
    seq), and every URL an absolute dispatch offset slot * delay_ms.
    One host-partitioned window — no global ordering structure; at
    10^10 URLs the schedule stays embarrassingly host-parallel and a
    worker owns a host's calendar after the same host-hash shuffle the
    frontier already pays."""
    from cola_spark.operators.textdedup import hash_family

    h = hash_family("md5")
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderpriority", "o_orderkey")
    return (
        o.select(
            "o_custkey", "o_orderkey",
            (F.row_number().over(w) - 1).cast("long").alias("slot"),
            (F.lit(100) + (h(F.col("o_custkey").cast("string"), 9) % 5) * 50)
            .cast("long")
            .alias("delay_ms"),
        )
        .withColumn("sched_ms", (F.col("slot") * F.col("delay_ms")).cast("long"))
    )


SQL_POLITENESS_SCHEDULE = f"""
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderpriority, o_orderkey) - 1
            AS BIGINT) AS slot,
       CAST(100 + ({_md5i("CAST(o_custkey AS VARCHAR)", 9)} % 5) * 50
            AS BIGINT) AS delay_ms,
       CAST((ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderpriority, o_orderkey) - 1)
            * (100 + ({_md5i("CAST(o_custkey AS VARCHAR)", 9)} % 5) * 50)
            AS BIGINT) AS sched_ms
FROM orders
"""

PAIRS.update({"politeness_schedule": (q_politeness_schedule, SQL_POLITENESS_SCHEDULE)})


# --------------------------------------------- BPE merge training (round 5)


def q_bpe_train_merges(spark, sf):
    """Tokenizer induction: the first 4 BPE merge rules (Sennrich et
    al. 2016) learned over the documents corpus as pure DataFrame ops
    (operators/bpe.py) — the fourth member of the trained-relationally
    family (LR gradient descent, Lloyd k-means, damped PageRank). The
    corpus-sized stage is one map-side word count; every merge round
    runs on the word-TYPE vocabulary. The oracle unrolls all 4 rounds
    as CTEs — a wrong pair count, argmax tie-break or a violation of
    the leftmost-non-overlapping rule hash-fails."""
    from cola_spark.operators.bpe import bpe_merges

    return bpe_merges(_t(spark, sf, "documents"), merges=4)


def _sql_bpe_ctes(merges: int = 4) -> list:
    ctes = [
        r"tok AS (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS word"
        " FROM documents)",
        "v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok"
        " GROUP BY word)",
        "c0 AS (SELECT word, freq, CAST(i AS BIGINT) AS pos,"
        " substr(word, i, 1) AS piece"
        " FROM v, UNNEST(generate_series(1, length(word))) AS t(i))",
    ]
    for r in range(1, merges + 1):
        ctes += [
            f"p{r} AS (SELECT word, freq, pos, piece,"
            f" LEAD(piece) OVER (PARTITION BY word ORDER BY pos) AS nxt"
            f" FROM c{r-1})",
            f"pc{r} AS (SELECT piece AS lp, nxt AS rp,"
            f" CAST(SUM(freq) AS BIGINT) AS cnt"
            f" FROM p{r} WHERE nxt IS NOT NULL GROUP BY piece, nxt)",
            f"b{r} AS (SELECT lp, rp, cnt FROM pc{r}"
            f" ORDER BY cnt DESC, lp, rp LIMIT 1)",
            f"s{r} AS (SELECT p.word, p.pos FROM p{r} p"
            f" JOIN b{r} b ON p.piece = b.lp AND p.nxt = b.rp)",
            f"i{r} AS (SELECT word, pos, pos - ROW_NUMBER() OVER"
            f" (PARTITION BY word ORDER BY pos) AS isl FROM s{r})",
            f"k{r} AS (SELECT word, pos FROM ("
            f" SELECT word, pos, pos - MIN(pos) OVER"
            f" (PARTITION BY word, isl) AS off FROM i{r}) WHERE off % 2 = 0)",
            f"c{r} AS (SELECT p.word, p.freq,"
            f" ROW_NUMBER() OVER (PARTITION BY p.word ORDER BY p.pos) AS pos,"
            f" CASE WHEN ks.pos IS NOT NULL THEN p.piece || p.nxt"
            f" ELSE p.piece END AS piece"
            f" FROM p{r} p"
            f" LEFT JOIN k{r} ks ON p.word = ks.word AND p.pos = ks.pos"
            f" LEFT JOIN k{r} kc ON p.word = kc.word AND p.pos = kc.pos + 1"
            f" WHERE kc.pos IS NULL)",
        ]
    return ctes


def _sql_bpe(merges: int = 4) -> str:
    ctes = _sql_bpe_ctes(merges)
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, lp AS lpiece,"
        f" rp AS rpiece, cnt AS pair_freq FROM b{r}"
        for r in range(1, merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


SQL_BPE_TRAIN_MERGES = _sql_bpe()

PAIRS.update({"bpe_train_merges": (q_bpe_train_merges, SQL_BPE_TRAIN_MERGES)})


# ------------------------------------------ adaptive re-crawl (round 5)


def q_adaptive_recrawl(spark, sf):
    """Adaptive re-crawl scheduling (SURVEY §2 row 30 upgraded to a
    driver-oracled query; operators/inc.py gives the force-requeue
    mechanics, this gives the POLICY): per page (events.user_id as the
    page key, each event an observed fetch, `value` the content
    fingerprint), estimate the change rate from the observation
    history — changes = fingerprint transitions in (ts, event_id)
    order — and set the revisit interval Cho & Garcia-Molina-style:
    observation span / (changes + 1), clamped to [1 min, 1 day];
    next_fetch = last observation + interval. Pure page-partitioned
    window + one groupBy — at 10^10 pages this is one host-hash-shaped
    exchange, the same shuffle the frontier already pays."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev = F.lag("value").over(w)
    g = ev.select(
        "user_id",
        ms.alias("s"),
        F.when(prev.isNotNull() & (F.col("value") != prev), 1)
        .otherwise(0)
        .alias("chg"),
    )
    a = g.groupBy("user_id").agg(
        F.count("*").cast("long").alias("obs"),
        F.sum("chg").cast("long").alias("changes"),
        (F.max("s") - F.min("s")).cast("long").alias("span_ms"),
        F.max("s").cast("long").alias("last_ms"),
    )
    interval = F.greatest(
        F.lit(60000),
        F.least(
            F.lit(86400000),
            F.floor(F.col("span_ms") / (F.col("changes") + 1)),
        ),
    ).cast("long")
    return a.select(
        "user_id", "obs", "changes", "span_ms",
        interval.alias("interval_ms"),
        (F.col("last_ms") + interval).cast("long").alias("next_fetch_ms"),
    )


SQL_ADAPTIVE_RECRAWL = """
WITH g AS (
  SELECT user_id, epoch_ms(ts) AS s,
         CASE WHEN lag(value) OVER w IS NOT NULL
                   AND value <> lag(value) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
a AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS obs,
         CAST(SUM(chg) AS BIGINT) AS changes,
         CAST(MAX(s) - MIN(s) AS BIGINT) AS span_ms,
         CAST(MAX(s) AS BIGINT) AS last_ms
  FROM g GROUP BY user_id)
SELECT user_id, obs, changes, span_ms,
       CAST(GREATEST(60000, LEAST(86400000,
            FLOOR(span_ms / (changes + 1)))) AS BIGINT) AS interval_ms,
       CAST(last_ms + GREATEST(60000, LEAST(86400000,
            FLOOR(span_ms / (changes + 1)))) AS BIGINT) AS next_fetch_ms
FROM a
"""

PAIRS.update({"adaptive_recrawl": (q_adaptive_recrawl, SQL_ADAPTIVE_RECRAWL)})


# ---------------------- round-5 late additions: trap / packing / text


def q_trap_detect(spark, sf):
    """Crawler-trap detection (operators/traps.py) over a URL universe
    synthesized from orders: every row gets a 5-segment content path;
    keys % 13 == 0 get a planted depth maze (+7 segments), keys % 19
    == 0 a planted cycle (/page x4). Signals are per-URL local — one
    url-keyed exchange at any scale (docstring in traps.py)."""
    from cola_spark.operators.traps import trap_signals

    o = _t(spark, sf, "orders")
    url = F.concat(
        F.lit("/c/"),
        F.col("o_orderpriority"),
        F.lit("/s/"),
        F.col("o_orderstatus"),
        F.lit("/p"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("/a/b/c/d/e/f/g")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("o_orderkey") % 19 == 0, F.lit("/page/page/page/page")
        ).otherwise(F.lit("")),
    )
    base = o.select(F.col("o_orderkey").alias("url_key"), url.alias("url"))
    return trap_signals(base, max_depth=8, min_repeat=4)


SQL_TRAP_DETECT = r"""
WITH u AS (
  SELECT o_orderkey AS url_key,
         '/c/' || o_orderpriority || '/s/' || o_orderstatus
         || '/p' || CAST(o_orderkey % 7 AS VARCHAR)
         || CASE WHEN o_orderkey % 13 = 0 THEN '/a/b/c/d/e/f/g' ELSE '' END
         || CASE WHEN o_orderkey % 19 = 0 THEN '/page/page/page/page' ELSE '' END
           AS url
  FROM orders),
seg AS (SELECT url_key, UNNEST(string_split(substring(url, 2), '/')) AS seg
        FROM u),
rep AS (SELECT url_key, CAST(MAX(c) AS BIGINT) AS max_repeat
        FROM (SELECT url_key, seg, COUNT(*) AS c FROM seg GROUP BY 1, 2)
        GROUP BY 1),
d AS (SELECT url_key, url,
             CAST(len(string_split(substring(url, 2), '/')) AS BIGINT) AS depth
      FROM u)
SELECT d.url_key, d.url, d.depth, rep.max_repeat,
       (d.depth > 8 OR rep.max_repeat >= 4) AS is_trap
FROM d JOIN rep USING (url_key)
"""


def q_pack_sequences(spark, sf):
    """Trainer-sequence packing layout (operators/packing.py):
    md5-sharded concat-and-chunk token offsets, ctx_len=512 over 8
    shards. One writer-shaped exchange; per-shard linear window."""
    from cola_spark.operators.packing import pack_offsets

    return pack_offsets(
        _t(spark, sf, "documents"), ctx_len=512, n_shards=8, hash_kind="md5"
    )


SQL_PACK_SEQUENCES = r"""
WITH b AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
         CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 8 AS shard
  FROM documents),
c AS (SELECT doc_id, shard, n_tok,
             SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok
               AS start_off
      FROM b)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tok,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // 512 AS BIGINT) AS first_bin,
       CAST((start_off + n_tok - 1) // 512 AS BIGINT) AS last_bin
FROM c
"""


def q_lm_coverage_score(spark, sf):
    """CCNet-shaped reference-LM coverage score (textstats.lm_coverage):
    distinct-bigram inventory of the deterministic 25% md5 slice as the
    curated side; integer permille coverage per doc."""
    from cola_spark.operators.textstats import lm_coverage

    return lm_coverage(_t(spark, sf, "documents"), ref_permille=250,
                       hash_kind="md5")


SQL_LM_COVERAGE = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+1], ' ') AS shingle
       FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
       WHERE len(ws) >= 2),
m AS (SELECT doc_id, shingle,
             CAST(('0x' || substr(md5('lmref:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 1000 < 250 AS is_ref
      FROM sh),
ref AS (SELECT DISTINCT shingle FROM m WHERE is_ref),
j AS (SELECT m.doc_id, m.is_ref,
             CASE WHEN r.shingle IS NOT NULL THEN 1 END AS known
      FROM m LEFT JOIN ref r ON m.shingle = r.shingle)
SELECT doc_id, is_ref, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(COUNT(known) AS BIGINT) AS n_known,
       CAST((1000 * COUNT(known)) // COUNT(*) AS BIGINT) AS coverage_permille
FROM j GROUP BY doc_id, is_ref
"""


def q_tfidf_topk(spark, sf):
    """Integer-exact tf-idf keyword extraction (textstats.tfidf_topk):
    top-3 terms per doc, idf as the scaled rational (1e6*N) div df."""
    from cola_spark.operators.textstats import tfidf_topk

    return tfidf_topk(_t(spark, sf, "documents"), k=3)


SQL_TFIDF_TOPK = r"""
WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+'))
                AS term
              FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             CAST(tf.tf * ((1000000 * n.n_docs) // dfq.df) AS BIGINT) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, CAST(ROW_NUMBER() OVER
        (PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rnk
      FROM s)
SELECT doc_id, term, tf, df, score, rnk FROM r WHERE rnk <= 3
"""


PAIRS.update({
    "trap_detect": (q_trap_detect, SQL_TRAP_DETECT),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "lm_coverage_score": (q_lm_coverage_score, SQL_LM_COVERAGE),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
})


# ---------------- image-caption curation composition (round 5, late)


def q_image_mix_filter(spark, sf):
    """LAION/DataComp-shaped image-caption curation, fully SQL-oracled
    — the image mirror of corpus_mix_clean built on the PLANTED image
    universe (the same md5 planting technique as phash_band_pairs, so
    DuckDB replays every stage bit-for-bit where the codec-bound
    image_corpus_clean can only be rows-only):

      1. metadata gates — min side >= 200 px, aspect ratio <= 3
         (integer cross-multiplication, no floats), decodable format
         (png/jpgq in, gif out), caption length 3..256 tokens;
      2. pHash near-dup dedup AMONG SURVIVORS — planted 64-bit pHash →
         production 4-band Hamming pairs → connected components →
         keep the minimum-id exemplar per cluster.

    Output: the curated (doc_id, w, h, fmt, n_cap) table. Scale: the
    gates are map-side column exprs on the scan; the pair list is the
    banded equi-join (never all-pairs); the survivor restriction is two
    frontier-scale semi-joins pinned shuffle_hash (bloom-gate rule); CC
    runs on the pair graph only."""
    from cola_spark.operators.clusters import dedup_keep_set

    docs = _t(spark, sf, "documents")
    h = _md5_col
    w = (
        F.lit(64) + F.pmod(h(F.concat(F.lit("w:"), F.col("doc_id"))), F.lit(1986))
    ).cast("long")
    ht = (
        F.lit(64) + F.pmod(h(F.concat(F.lit("h:"), F.col("doc_id"))), F.lit(1986))
    ).cast("long")
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("jpgq"))
        .otherwise(F.lit("gif"))
    )
    ncap = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    meta = docs.select(
        "doc_id", w.alias("w"), ht.alias("h"), fmt.alias("fmt"), ncap.alias("n_cap")
    )
    surv = meta.filter(
        (F.least("w", "h") >= 200)
        & (F.greatest("w", "h") <= 3 * F.least("w", "h"))
        & F.col("fmt").isin("png", "jpgq")
        & (F.col("n_cap") >= 3)
        & (F.col("n_cap") <= 256)
    )
    pairs = _planted_phash_pairs(spark, sf)
    sp = pairs.join(
        surv.select(F.col("doc_id").alias("img_a")).hint("shuffle_hash"),
        "img_a",
        "semi",
    ).join(
        surv.select(F.col("doc_id").alias("img_b")).hint("shuffle_hash"),
        "img_b",
        "semi",
    )
    drops = (
        dedup_keep_set(sp, a_col="img_a", b_col="img_b")
        .filter(~F.col("keep"))
        .select("doc_id")
    )
    return surv.join(drops, "doc_id", "left_anti")


def _sql_meta_dim(seed: str) -> str:
    return (
        f"64 + CAST(('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)),"
        f" 1, 15)) AS BIGINT) % 1986"
    )


SQL_IMAGE_MIX_FILTER = f"""
WITH RECURSIVE meta AS (
  SELECT doc_id,
         CAST({_sql_meta_dim('w')} AS BIGINT) AS w,
         CAST({_sql_meta_dim('h')} AS BIGINT) AS h,
         CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpgq'
              ELSE 'gif' END AS fmt,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_cap
  FROM documents),
surv AS (
  SELECT * FROM meta
  WHERE LEAST(w, h) >= 200 AND GREATEST(w, h) <= 3 * LEAST(w, h)
    AND fmt IN ('png', 'jpgq') AND n_cap BETWEEN 3 AND 256),
{_SQL_PH_CTES},
spairs AS (
  SELECT p.doc_a, p.doc_b FROM ppairs p
  JOIN surv a ON a.doc_id = p.doc_a
  JOIN surv b ON b.doc_id = p.doc_b),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM spairs
          UNION SELECT doc_b, doc_a FROM spairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
cl AS (SELECT src AS doc_id, LEAST(MIN(dst), src) AS cluster_id
       FROM reach GROUP BY src)
SELECT s.doc_id, s.w, s.h, s.fmt, s.n_cap
FROM surv s LEFT JOIN cl ON s.doc_id = cl.doc_id
WHERE cl.doc_id IS NULL OR cl.cluster_id = s.doc_id
"""

PAIRS.update({"image_mix_filter": (q_image_mix_filter, SQL_IMAGE_MIX_FILTER)})


def q_clip_align_filter(spark, sf):
    """CLIP-score-style image<->caption alignment gate — the OTHER core
    LAION filter beside resolution/dedup (keep pairs whose image/text
    embedding cosine >= 0.28 = 7/25): the image embedding is the real
    float vector from the embeddings table snapped to an integer grid
    (floor(e*1000)); the caption embedding is the hashed bag-of-words
    (feature-hashing) integer vector; the threshold test is pure int64
    cross-multiplication (625·dot² vs 49·na·nb), so the WHOLE gate —
    grid snap, token hashing, sparse-dense join, norms, decision —
    replays exactly in DuckDB. Planted signal: every 5th doc's caption
    vector leans toward its image vector on the first 16 dims (the
    contribution rides the same (doc_id, j, value) long form, one
    unionByName), so both branches of the gate do real work: planted
    docs clear the threshold, hash-noise docs near-never do.

    Output: the complete per-doc decision table (doc_id, dot, na, nb,
    aligned) over docs that HAVE an embedding — auditable, not just
    survivors. Scale: one posexplode + one token explode, the join is
    (doc_id, j)-keyed (co-partitioned on doc_id), the reduction is one
    map-side-combinable groupBy; no window, no collect."""
    from cola_spark.operators.multimodal import (
        caption_align,
        caption_text_embed,
        embedding_grid,
    )

    img = embedding_grid(_t(spark, sf, "embeddings"))
    cap = caption_text_embed(
        _t(spark, sf, "documents").select("doc_id", "text"), hash_kind="md5"
    )
    boost = img.filter((F.col("doc_id") % 5 == 0) & (F.col("j") < 16)).select(
        "doc_id", "j", (F.lit(3) * F.col("ie")).alias("cv")
    )
    planted = (
        cap.unionByName(boost).groupBy("doc_id", "j").agg(F.sum("cv").alias("cv"))
    )
    return caption_align(img, planted)


def _sql_clip_align(dim: int = 64, grid: int = 1000) -> str:
    js = ", ".join(str(j) for j in range(dim))
    return rf"""
WITH img AS (
  SELECT vec_id AS doc_id, j,
         CAST(FLOOR(CAST(embedding[j + 1] AS DOUBLE) * {grid}) AS BIGINT) AS ie
  FROM embeddings, UNNEST([{js}]) AS t(j)),
tok AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents),
capraw AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5('cd:' || tok), 1, 15)) AS BIGINT) % {dim}
              AS INTEGER) AS j,
         CAST(('0x' || substr(md5('cv:' || tok), 1, 15)) AS BIGINT) % 201 - 100
           AS cv
  FROM tok),
boost AS (SELECT doc_id, j, 3 * ie AS cv FROM img
          WHERE doc_id % 5 = 0 AND j < 16),
cap AS (SELECT doc_id, j, CAST(SUM(cv) AS BIGINT) AS cv
        FROM (SELECT * FROM capraw UNION ALL SELECT * FROM boost)
        GROUP BY 1, 2),
per AS (SELECT i.doc_id, i.ie, COALESCE(c.cv, 0) AS cv
        FROM img i LEFT JOIN cap c ON c.doc_id = i.doc_id AND c.j = i.j)
SELECT doc_id,
       CAST(SUM(ie * cv) AS BIGINT) AS dot,
       CAST(SUM(ie * ie) AS BIGINT) AS na,
       CAST(SUM(cv * cv) AS BIGINT) AS nb,
       (CAST(SUM(ie * cv) AS BIGINT) > 0 AND
        625 * CAST(SUM(ie * cv) AS BIGINT) * CAST(SUM(ie * cv) AS BIGINT)
          >= 49 * CAST(SUM(ie * ie) AS BIGINT) * CAST(SUM(cv * cv) AS BIGINT))
         AS aligned
FROM per GROUP BY doc_id
"""


SQL_CLIP_ALIGN = _sql_clip_align()

PAIRS.update({"clip_align_filter": (q_clip_align_filter, SQL_CLIP_ALIGN)})


def q_clip_mix_filter(spark, sf):
    """The COMPLETE LAION-400M-shaped curation pipeline — every gate the
    paper applies, composed end-to-end and fully SQL-oracled:

      1. metadata gates + pHash near-dup dedup  (q_image_mix_filter:
         resolution, integer aspect ratio, decodable format, caption
         length, then banded-Hamming CC keeping the min-id exemplar);
      2. CLIP-score alignment (q_clip_align_filter: integer-exact
         cos >= 0.28 gate on the image embedding vs the hashed-BoW
         caption vector).

    Docs without an embedding drop (strict CLIP-filter semantics: no
    score, no admission). Output: (doc_id, w, h, fmt, n_cap, dot) —
    the curated table plus its alignment evidence. Both engines build
    it by PURE COMPOSITION of the two member queries (the oracle nests
    their SQL verbatim), so a drift in either member hash-fails here
    too. Scale: the member plans are unchanged; the final join is two
    already-curated (small) corpus-derived sides, pinned shuffle_hash
    by the no-broadcast-on-corpus-derived rule."""
    base = q_image_mix_filter(spark, sf)
    ali = (
        q_clip_align_filter(spark, sf)
        .filter(F.col("aligned"))
        .select("doc_id", "dot")
    )
    return base.join(ali.hint("shuffle_hash"), "doc_id")


SQL_CLIP_MIX = f"""
WITH imf AS ({SQL_IMAGE_MIX_FILTER}),
ali AS (SELECT doc_id, dot FROM ({SQL_CLIP_ALIGN}) WHERE aligned)
SELECT i.doc_id, i.w, i.h, i.fmt, i.n_cap, a.dot
FROM imf i JOIN ali a ON a.doc_id = i.doc_id
"""

PAIRS.update({"clip_mix_filter": (q_clip_mix_filter, SQL_CLIP_MIX)})


def q_semdedup_prune(spark, sf):
    """SemDeDup semantic dedup (Abbas et al. 2023 — the DataComp
    pipeline's embedding-space pruning step): Lloyd-TRAINED k-means
    cells (3 engine-stable iterations, the ivf_cells quantizer) +
    within-cell cosine pruning at 0.35, keep-first-occurrence. The
    oracle replays the ENTIRE pipeline — centroid training, cosine
    cell assignment, the within-cell pair scan and the decision table
    — so a wrong Lloyd update, a wrong cell, or a wrong prune all
    hash-fail. Complements embedding_near_dups (exact all-pairs) and
    the LSH bucket path: this is the data-adaptive-cell variant that
    curation pipelines actually run at billion-image scale."""
    from cola_spark.operators.similarity import semdedup_prune

    return semdedup_prune(
        _t(spark, sf, "embeddings"), n_cells=8, min_sim_x1000=350,
        train_iters=_PQT_T,
    )


def _sql_semdedup(
    n_cells: int = 8, iters: int = _PQT_T, scale: int = _PQT_S,
    min_sim_x1000: int = 350, dim: int = 64,
) -> str:
    ctes = [
        "corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv"
        " FROM embeddings)"
    ]
    ctes += _sql_ivf_train_ctes(n_cells, iters, scale, dim)
    ctes.append(f"""cellq AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.cv, c.ce) DESC, c.cent_id) AS rn
    FROM corp e CROSS JOIN icb{iters} c) WHERE rn = 1)""")
    ctes.append(f"""dup AS (
  SELECT a.vec_id, COUNT(*) AS n_dups, MIN(b.vec_id) AS dup_of
  FROM cellq a
  JOIN cellq b ON b.cell = a.cell AND b.vec_id < a.vec_id
  JOIN corp ea ON ea.vec_id = a.vec_id
  JOIN corp eb ON eb.vec_id = b.vec_id
  WHERE FLOOR(list_cosine_similarity(ea.cv, eb.cv) * 1000)
        >= {min_sim_x1000}
  GROUP BY a.vec_id)""")
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
       CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
       CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS dup_of,
       d.vec_id IS NULL AS keep
FROM cellq c LEFT JOIN dup d ON d.vec_id = c.vec_id
"""
    )


SQL_SEMDEDUP = _sql_semdedup()

PAIRS.update({"semdedup_prune": (q_semdedup_prune, SQL_SEMDEDUP)})


def q_safety_gate(spark, sf):
    """Source-blocklist + unsafe-lexicon safety gate (operators/
    safety.py) — the LAION pipeline's first post-crawl curation gate:
    broadcast host-blocklist join (the genuine-small-dim case where
    broadcast IS the rule) + integer-permille lexicon density. Both
    branches live at sf0.01: 3 blocked sources (75 docs) and the
    80-permille density cut (341/500 below it). Complete decision
    table out; the stand-in lexicon is documented in the module."""
    from cola_spark.operators.safety import safety_gate

    return safety_gate(_t(spark, sf, "documents"))


SQL_SAFETY_GATE = """
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
  FROM documents),
toks AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents),
uns AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unsafe
  FROM toks WHERE tok IN ('slow', 'big') GROUP BY doc_id),
blk AS (SELECT * FROM (VALUES ('src3'), ('src7'), ('src13')) AS t(bsrc)),
dec AS (
  SELECT b.doc_id, b.source, k.bsrc IS NOT NULL AS blocked, b.n_tok,
         CAST(COALESCE(u.n_unsafe, 0) AS BIGINT) AS n_unsafe,
         CAST((1000 * COALESCE(u.n_unsafe, 0)) // b.n_tok AS BIGINT)
           AS unsafe_permille
  FROM base b
  LEFT JOIN blk k ON k.bsrc = b.source
  LEFT JOIN uns u ON u.doc_id = b.doc_id)
SELECT *, (NOT blocked) AND unsafe_permille <= 80 AS admit FROM dec
"""

PAIRS.update({"safety_gate": (q_safety_gate, SQL_SAFETY_GATE)})


def q_aspect_bucket_pack(spark, sf):
    """Aspect-ratio bucket batching (operators/packing.py) over the
    PLANTED image universe (same md5 w/h planting as image_mix_filter):
    each image joins its integer-exact nearest ratio bucket from the
    SDXL-style ladder, then (bucket, md5-shard) packs into batches of
    8 — the trainer layout step that keeps a step's images same-aspect.
    Writer-shaped: one exchange keyed by (bucket, shard)."""
    from cola_spark.operators.packing import aspect_bucket_pack

    docs = _t(spark, sf, "documents")
    h = _md5_col
    w = (
        F.lit(64) + F.pmod(h(F.concat(F.lit("w:"), F.col("doc_id"))), F.lit(1986))
    ).cast("long")
    ht = (
        F.lit(64) + F.pmod(h(F.concat(F.lit("h:"), F.col("doc_id"))), F.lit(1986))
    ).cast("long")
    meta = docs.select("doc_id", w.alias("w"), ht.alias("h"))
    return aspect_bucket_pack(
        meta, batch_size=8, n_shards=4, hash_kind="md5"
    )


def _sql_aspect_pack(batch: int = 8, n_shards: int = 4) -> str:
    from cola_spark.operators.packing import ASPECT_BUCKETS, _AB_LCM

    ms = [
        f"ABS(w * {bh} - {bw} * h) * {_AB_LCM // bh}"
        for bw, bh in ASPECT_BUCKETS
    ]
    best = "LEAST(" + ", ".join(f"m{i}" for i in range(len(ms))) + ")"
    whens = " ".join(
        f"WHEN m{i} = best THEN {i}" for i in range(len(ms))
    )
    bw_case = " ".join(
        f"WHEN bucket = {i} THEN {bw}"
        for i, (bw, bh) in enumerate(ASPECT_BUCKETS)
    )
    bh_case = " ".join(
        f"WHEN bucket = {i} THEN {bh}"
        for i, (bw, bh) in enumerate(ASPECT_BUCKETS)
    )
    mcols = ", ".join(f"{m} AS m{i}" for i, m in enumerate(ms))
    return f"""
WITH meta AS (
  SELECT doc_id,
         CAST({_sql_meta_dim('w')} AS BIGINT) AS w,
         CAST({_sql_meta_dim('h')} AS BIGINT) AS h
  FROM documents),
m AS (SELECT doc_id, w, h, {mcols},
             CAST(('0x' || substr(md5('abucket:' || CAST(doc_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % {n_shards} AS shard
      FROM meta),
pk AS (SELECT doc_id, w, h, shard, {best} AS best,
              CASE {whens} END AS bucket
       FROM m),
rn AS (SELECT doc_id, w, h, bucket, shard,
              ROW_NUMBER() OVER (PARTITION BY bucket, shard
                                 ORDER BY doc_id) - 1 AS r
       FROM pk)
SELECT doc_id, w, h, CAST(bucket AS BIGINT) AS bucket,
       CAST(CASE {bw_case} END AS BIGINT) AS bw,
       CAST(CASE {bh_case} END AS BIGINT) AS bh,
       CAST(shard AS BIGINT) AS shard,
       CAST(r // {batch} AS BIGINT) AS batch_idx,
       CAST(r % {batch} AS BIGINT) AS slot
FROM rn
"""


SQL_ASPECT_PACK = _sql_aspect_pack()

PAIRS.update({"aspect_bucket_pack": (q_aspect_bucket_pack, SQL_ASPECT_PACK)})


_BANNER_HOT = "cookie banner accept terms to continue reading now"  # 8 tokens
_BANNER_RARE = "rare footer shown on three documents only here"     # 8 tokens


def q_line_boilerplate_dedup(spark, sf):
    """CCNet/RefinedWeb-style cross-corpus line dedup (textdedup.
    line_dedup) over a PLANTED boilerplate universe: every 3rd doc is
    prepended an 8-token cookie banner (~1/3 of the corpus, far over
    min_docs=5 -> removed from ALL carriers), docs with doc_id % 125
    == 1 get a rare footer carried by < 5 docs (kept — pins the
    threshold in BOTH directions; the CASE gives the hot banner
    priority on overlap docs so planting is deterministic). Banners
    are exactly k=8 tokens, so the remaining lines of a planted doc
    tile identically to its unplanted form — the plant adds exactly
    one line. Natural 8-token lines from the ~30-word vocabulary are
    unique at this scale, so the census does real discriminative work."""
    from cola_spark.operators.textdedup import line_dedup

    docs = _t(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_BANNER_HOT + " "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 125 == 1,
            F.concat(F.lit(_BANNER_RARE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return line_dedup(planted, k=8, min_docs=5)


SQL_LINE_DEDUP = rf"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN '{_BANNER_HOT} ' || text
              WHEN doc_id % 125 = 1 THEN '{_BANNER_RARE} ' || text
              ELSE text END AS text
  FROM documents),
base AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
         FROM planted),
segs AS (SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS seg_idx,
                array_to_string(ws[i:i+7], ' ') AS seg
         FROM base, UNNEST(generate_series(1, len(ws))) AS t(i)
         WHERE (i - 1) % 8 = 0),
boiler AS (SELECT seg FROM (
             SELECT seg, COUNT(DISTINCT doc_id) AS n_docs
             FROM segs GROUP BY seg)
           WHERE n_docs >= 5),
kept AS (SELECT s.doc_id, s.seg_idx, s.seg FROM segs s
         WHERE s.seg NOT IN (SELECT seg FROM boiler)),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_seg
        FROM segs GROUP BY doc_id),
cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
              string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
       FROM kept GROUP BY doc_id)
SELECT t.doc_id, t.n_seg,
       CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(c.clean_text, '') AS clean_text
FROM tot t LEFT JOIN cl c USING (doc_id)
"""

PAIRS.update({
    "line_boilerplate_dedup": (q_line_boilerplate_dedup, SQL_LINE_DEDUP)
})


_MIX_WEIGHTS = {"src0": 3, "src1": 1, "src2": 1, "src5": 2}
_MIX_BUDGET = 4000


def q_token_budget_mix(spark, sf):
    """Token-budget mixture selection (operators/sampling.py
    token_budget_mix): per-source TOKEN budgets (4000 total split
    3:1:1:2 over four sources) filled greedily in deterministic md5
    order — the trainer mixing step where targets are token counts,
    not doc rates. Two-phase segmented running sum (the global_rank
    pattern): no per-source global window anywhere. Unlisted sources
    get budget 0 (selected=false rows stay in the decision table), and
    every listed source's budget is below its token mass so the cut
    lands mid-source — both branches live."""
    from cola_spark.operators.sampling import token_budget_mix

    return token_budget_mix(
        _t(spark, sf, "documents"),
        weights=_MIX_WEIGHTS,
        budget_tokens=_MIX_BUDGET,
        hash_kind="md5",
    )


def _sql_token_budget_mix() -> str:
    total_w = sum(_MIX_WEIGHTS.values())
    vals = ", ".join(
        f"('{s}', CAST({_MIX_BUDGET * w // total_w} AS BIGINT))"
        for s, w in sorted(_MIX_WEIGHTS.items())
    )
    return rf"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
         CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM documents),
wts AS (SELECT * FROM (VALUES {vals}) AS t(wsrc, budget_tok)),
ord AS (
  SELECT doc_id, source, n_tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS src_rank,
         COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM base)
SELECT o.doc_id, o.source, o.n_tok,
       CAST(o.src_rank AS BIGINT) AS src_rank,
       CAST(o.cum_before AS BIGINT) AS cum_before,
       CAST(COALESCE(w.budget_tok, 0) AS BIGINT) AS budget_tok,
       o.cum_before < COALESCE(w.budget_tok, 0) AS selected
FROM ord o LEFT JOIN wts w ON w.wsrc = o.source
"""


SQL_TOKEN_BUDGET_MIX = _sql_token_budget_mix()

PAIRS.update({"token_budget_mix": (q_token_budget_mix, SQL_TOKEN_BUDGET_MIX)})


def q_caption_image_retrieval(spark, sf):
    """Cross-modal retrieval (multimodal.caption_to_image_topk): 8
    caption queries (the planted docs 0,5,..,35 — their caption
    vectors lean 3x toward their own image on 16 dims, exactly the
    clip_align planting) retrieve top-5 images from the WHOLE
    embeddings table by integer-cosine order. The planted signal makes
    retrieval discriminative (a query's own image should surface at or
    near rank 1); dot is exact int64, the float ordering key never
    leaves the plan. The retrieval twin of clip_align_filter, sharing
    its embedding stack end-to-end."""
    from cola_spark.operators.multimodal import (
        caption_text_embed,
        caption_to_image_topk,
        embedding_grid,
    )

    img = embedding_grid(_t(spark, sf, "embeddings"))
    qdocs = (
        _t(spark, sf, "documents")
        .filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 40))
        .select("doc_id", "text")
    )
    cap = caption_text_embed(qdocs, hash_kind="md5")
    boost = img.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 40) & (F.col("j") < 16)
    ).select("doc_id", "j", (F.lit(3) * F.col("ie")).alias("cv"))
    planted = (
        cap.unionByName(boost).groupBy("doc_id", "j").agg(F.sum("cv").alias("cv"))
    )
    return caption_to_image_topk(planted, img, k=5)


def _sql_caption_retrieval(dim: int = 64, grid: int = 1000, k: int = 5) -> str:
    js = ", ".join(str(j) for j in range(dim))
    return rf"""
WITH img AS (
  SELECT vec_id AS image_id, j,
         CAST(FLOOR(CAST(embedding[j + 1] AS DOUBLE) * {grid}) AS BIGINT) AS ie
  FROM embeddings, UNNEST([{js}]) AS t(j)),
tok AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents WHERE doc_id % 5 = 0 AND doc_id < 40),
capraw AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5('cd:' || tok), 1, 15)) AS BIGINT) % {dim}
              AS INTEGER) AS j,
         CAST(('0x' || substr(md5('cv:' || tok), 1, 15)) AS BIGINT) % 201 - 100
           AS cv
  FROM tok),
boost AS (SELECT image_id AS doc_id, j, 3 * ie AS cv FROM img
          WHERE image_id % 5 = 0 AND image_id < 40 AND j < 16),
cap AS (SELECT doc_id AS query_id, j, CAST(SUM(cv) AS BIGINT) AS cv
        FROM (SELECT * FROM capraw UNION ALL SELECT * FROM boost)
        GROUP BY 1, 2),
dots AS (SELECT c.query_id, i.image_id,
                CAST(SUM(i.ie * c.cv) AS BIGINT) AS dot
         FROM img i JOIN cap c ON c.j = i.j GROUP BY 1, 2),
na AS (SELECT image_id, CAST(SUM(ie * ie) AS BIGINT) AS na FROM img GROUP BY 1),
nb AS (SELECT query_id, CAST(SUM(cv * cv) AS BIGINT) AS nb FROM cap GROUP BY 1),
sc AS (SELECT d.query_id, d.image_id, d.dot,
              CAST(d.dot AS DOUBLE) / sqrt(CAST(n.na * b.nb AS DOUBLE)) AS s
       FROM dots d JOIN na n USING (image_id) JOIN nb b USING (query_id)),
rk AS (SELECT query_id, image_id, dot,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, image_id) AS BIGINT)
                AS rank
       FROM sc)
SELECT query_id, image_id, dot, rank FROM rk WHERE rank <= {k}
"""


SQL_CAPTION_RETRIEVAL = _sql_caption_retrieval()

PAIRS.update({
    "caption_image_retrieval": (q_caption_image_retrieval, SQL_CAPTION_RETRIEVAL)
})


def q_caption_image_retrieval_ivf(spark, sf):
    """IVF-pruned cross-modal retrieval (multimodal.
    caption_to_image_topk_ivf): the same 8 planted caption queries as
    caption_image_retrieval, but the candidate set is pruned to each
    query's 2 nearest Lloyd-TRAINED k-means cells (3 iterations, the
    semdedup/ann_ivf quantizer) before the exact integer ranker runs —
    the 10^10-image serving path, cross-engine verified INCLUDING the
    training loop (the oracle unrolls all 3 Lloyd rounds as CTEs; a
    wrong centroid update or a wrong probed cell hash-fails)."""
    from cola_spark.operators.multimodal import (
        caption_text_embed,
        caption_to_image_topk_ivf,
        embedding_grid,
    )

    embs = _t(spark, sf, "embeddings")
    img = embedding_grid(embs)
    qdocs = (
        _t(spark, sf, "documents")
        .filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 40))
        .select("doc_id", "text")
    )
    cap = caption_text_embed(qdocs, hash_kind="md5")
    boost = img.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 40) & (F.col("j") < 16)
    ).select("doc_id", "j", (F.lit(3) * F.col("ie")).alias("cv"))
    planted = (
        cap.unionByName(boost).groupBy("doc_id", "j").agg(F.sum("cv").alias("cv"))
    )
    return caption_to_image_topk_ivf(
        planted, embs, k=5, n_cells=8, nprobe=2, train_iters=_PQT_T
    )


def _sql_caption_retrieval_ivf(
    dim: int = 64, grid: int = 1000, k: int = 5,
    n_cells: int = 8, nprobe: int = 2, iters: int = _PQT_T,
    scale: int = _PQT_S,
) -> str:
    js = ", ".join(str(j) for j in range(dim))
    ctes = [
        "corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv"
        " FROM embeddings)"
    ]
    ctes += _sql_ivf_train_ctes(n_cells, iters, scale, dim)
    ctes.append(f"""imgcell AS (
  SELECT vec_id AS image_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.cv, c.ce) DESC, c.cent_id) AS rn
    FROM corp e CROSS JOIN icb{iters} c) WHERE rn = 1)""")
    ctes.append(f"""img AS (
  SELECT vec_id AS image_id, j,
         CAST(FLOOR(CAST(embedding[j + 1] AS DOUBLE) * {grid}) AS BIGINT) AS ie
  FROM embeddings, UNNEST([{js}]) AS t(j))""")
    ctes.append(r"""tok AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 40)""")
    ctes.append(f"""capraw AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5('cd:' || tok), 1, 15)) AS BIGINT) % {dim}
              AS INTEGER) AS j,
         CAST(('0x' || substr(md5('cv:' || tok), 1, 15)) AS BIGINT) % 201 - 100
           AS cv
  FROM tok)""")
    ctes.append("""boost AS (
  SELECT image_id AS doc_id, j, 3 * ie AS cv FROM img
  WHERE image_id % 5 = 0 AND image_id < 40 AND j < 16)""")
    ctes.append("""cap AS (
  SELECT doc_id AS query_id, j, CAST(SUM(cv) AS BIGINT) AS cv
  FROM (SELECT * FROM capraw UNION ALL SELECT * FROM boost)
  GROUP BY 1, 2)""")
    ctes.append(f"""qd AS (
  SELECT q.query_id,
         list(CAST(COALESCE(c.cv, 0) AS DOUBLE) ORDER BY d.j) AS qv
  FROM (SELECT DISTINCT query_id FROM cap) q
  CROSS JOIN UNNEST(range(0, {dim})) AS d(j)
  LEFT JOIN cap c ON c.query_id = q.query_id AND c.j = d.j
  GROUP BY q.query_id)""")
    ctes.append(f"""qcell AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.ce) DESC, c.cent_id) AS rn
    FROM qd q CROSS JOIN icb{iters} c) WHERE rn <= {nprobe})""")
    ctes.append("""cand AS (
  SELECT q.query_id, i.image_id FROM qcell q JOIN imgcell i USING (cell))""")
    ctes.append("""dots AS (
  SELECT c.query_id, c.image_id, CAST(SUM(i.ie * p.cv) AS BIGINT) AS dot
  FROM cand c
  JOIN img i ON i.image_id = c.image_id
  JOIN cap p ON p.query_id = c.query_id AND p.j = i.j
  GROUP BY 1, 2)""")
    ctes.append("""na AS (
  SELECT image_id, CAST(SUM(ie * ie) AS BIGINT) AS na FROM img GROUP BY 1)""")
    ctes.append("""nb AS (
  SELECT query_id, CAST(SUM(cv * cv) AS BIGINT) AS nb FROM cap GROUP BY 1)""")
    ctes.append("""sc AS (
  SELECT d.query_id, d.image_id, d.dot,
         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.na * b.nb AS DOUBLE)) AS s
  FROM dots d JOIN na n USING (image_id) JOIN nb b USING (query_id))""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT query_id, image_id, dot, rank FROM (
  SELECT query_id, image_id, dot,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY s DESC, image_id) AS BIGINT) AS rank
  FROM sc) WHERE rank <= {k}
"""
    )


SQL_CAPTION_RETRIEVAL_IVF = _sql_caption_retrieval_ivf()

PAIRS.update({
    "caption_image_retrieval_ivf": (
        q_caption_image_retrieval_ivf, SQL_CAPTION_RETRIEVAL_IVF
    )
})


def q_anchor_text_rollup(spark, sf):
    """Anchor-text rollup (operators/linkrank.anchor_rollup) over a
    deterministic synthetic link graph derived from the documents
    table: each doc's host links to 3 md5-chosen targets out of 97
    (1500 edges onto 97 pages at sf0.01 — heavy fan-in, the Zipf
    shape), anchor text = the 2-token slice of the doc's own text at
    the edge's offset. Per target: in-degree, distinct referring
    hosts, and the most frequent anchor string (ties to the smallest —
    the no-window argmax). The web-graph text signal used for crawl
    prioritization and as target-page training text."""
    from cola_spark.operators.linkrank import anchor_rollup

    docs = _t(spark, sf, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    edges = (
        docs.select(
            F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string")).alias(
                "src_host"
            ),
            "doc_id",
            ws.alias("ws"),
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"),
        )
        .select(
            "src_host",
            F.concat(
                F.lit("p"),
                F.pmod(
                    _md5_col(
                        F.concat(
                            F.lit("tg:"),
                            F.col("doc_id").cast("string"),
                            F.lit("_"),
                            F.col("k").cast("string"),
                        )
                    ),
                    F.lit(97),
                ).cast("string"),
            ).alias("target"),
            F.array_join(
                F.slice(F.col("ws"), F.col("k") * 2 + 1, 2), " "
            ).alias("anchor"),
        )
    )
    return anchor_rollup(edges)


SQL_ANCHOR_ROLLUP = r"""
WITH base AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
              FROM documents),
edges AS (
  SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) AS src_host,
         'p' || CAST(CAST(('0x' || substr(md5('tg:' || CAST(doc_id AS VARCHAR)
                    || '_' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 97
                AS VARCHAR) AS target,
         array_to_string(ws[k * 2 + 1 : k * 2 + 2], ' ') AS anchor
  FROM base, UNNEST(generate_series(0, 2)) AS t(k)),
per_t AS (
  SELECT target, CAST(COUNT(*) AS BIGINT) AS n_refs,
         CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_hosts
  FROM edges GROUP BY target),
per_ta AS (
  SELECT target, anchor, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM edges GROUP BY target, anchor),
tc AS (SELECT target, MAX(cnt) AS top_cnt FROM per_ta GROUP BY target),
top AS (
  SELECT a.target, a.cnt AS top_cnt, MIN(a.anchor) AS top_anchor
  FROM per_ta a JOIN tc ON tc.target = a.target AND tc.top_cnt = a.cnt
  GROUP BY a.target, a.cnt)
SELECT p.target, p.n_refs, p.n_hosts, t.top_anchor,
       CAST(t.top_cnt AS BIGINT) AS top_cnt
FROM per_t p JOIN top t USING (target)
"""

PAIRS.update({"anchor_text_rollup": (q_anchor_text_rollup, SQL_ANCHOR_ROLLUP)})


_EPOCH_WEIGHTS = {"src0": 8, "src1": 1, "src5": 1}
_EPOCH_BUDGET = 3000


def q_epoch_repeat_mix(spark, sf):
    """Repeat-factor (epoch) mixture (sampling.epoch_repeat_mix):
    budget 3000 split 8:1:1 — src0's share (2400) EXCEEDS its token
    mass, so every src0 doc trains >= 1 full epoch plus a greedy
    partial pass; src1/src5 get sub-mass shares (partial pass only);
    unlisted sources get n_epochs = 0. One row per doc — the repeat
    count is the decision, no explode. Same deterministic md5 layout
    as token_budget_mix (epoch 0 membership == its selection)."""
    from cola_spark.operators.sampling import epoch_repeat_mix

    return epoch_repeat_mix(
        _t(spark, sf, "documents"),
        weights=_EPOCH_WEIGHTS,
        budget_tokens=_EPOCH_BUDGET,
        hash_kind="md5",
    )


def _sql_epoch_repeat_mix() -> str:
    total_w = sum(_EPOCH_WEIGHTS.values())
    vals = ", ".join(
        f"('{s}', CAST({_EPOCH_BUDGET * w // total_w} AS BIGINT))"
        for s, w in sorted(_EPOCH_WEIGHTS.items())
    )
    return rf"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
         CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM documents),
wts AS (SELECT * FROM (VALUES {vals}) AS t(wsrc, budget_tok)),
ord AS (
  SELECT doc_id, source, n_tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS src_rank,
         COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         SUM(n_tok) OVER (PARTITION BY source) AS mass_tok
  FROM base)
SELECT o.doc_id, o.source, o.n_tok,
       CAST(o.src_rank AS BIGINT) AS src_rank,
       CAST(o.cum_before AS BIGINT) AS cum_before,
       CAST(COALESCE(w.budget_tok, 0) AS BIGINT) AS budget_tok,
       CAST(o.mass_tok AS BIGINT) AS mass_tok,
       CAST(COALESCE(w.budget_tok, 0) // o.mass_tok
            + CASE WHEN o.cum_before < COALESCE(w.budget_tok, 0) % o.mass_tok
                   THEN 1 ELSE 0 END AS BIGINT) AS n_epochs
FROM ord o LEFT JOIN wts w ON w.wsrc = o.source
"""


SQL_EPOCH_REPEAT_MIX = _sql_epoch_repeat_mix()

PAIRS.update({"epoch_repeat_mix": (q_epoch_repeat_mix, SQL_EPOCH_REPEAT_MIX)})


def q_bpe_encode_counts(spark, sf):
    """BPE ENCODE with the trained tokenizer (operators/bpe.bpe_encode):
    train the 4-rule merge table on the corpus, then tokenize every doc
    with it — per-doc word / piece / char counts, the compression
    evidence table. Applying stored rules in rank order replays the
    training rounds' vocab states (same _apply_merge), so the oracle
    reuses the training CTE chain and reads round-4's state as the
    encoded vocabulary; a wrong apply-order or overlap rule
    hash-fails."""
    from cola_spark.operators.bpe import bpe_encode, bpe_merges

    docs = _t(spark, sf, "documents")
    return bpe_encode(docs, bpe_merges(docs, merges=4))


def _sql_bpe_encode(merges: int = 4) -> str:
    ctes = _sql_bpe_ctes(merges)
    ctes.append(
        f"enc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces"
        f" FROM c{merges} GROUP BY word)"
    )
    ctes.append(
        r"dw AS (SELECT doc_id,"
        r" UNNEST(string_split_regex(trim(text), '\s+')) AS word"
        r" FROM documents)"
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(length(d.word)) AS BIGINT) AS n_chars
FROM dw d JOIN enc e USING (word)
GROUP BY d.doc_id
"""
    )


SQL_BPE_ENCODE = _sql_bpe_encode()

PAIRS.update({"bpe_encode_counts": (q_bpe_encode_counts, SQL_BPE_ENCODE)})


def _mix_survivors(spark, sf):
    """The corpus_mix_clean survivor set (doc_id, lang, source, text,
    ...) BEFORE its per-lang summary — the curated corpus the trainer
    layouts consume. Same member queries, same shared pair list."""
    from cola_spark.operators.clusters import dedup_keep_set

    d = _t(spark, sf, "documents").filter(F.col("doc_id") % 20 != 7)
    drops = dedup_keep_set(q_jaccard_prefix_pairs(spark, sf)).filter(~F.col("keep"))
    quality = q_docs_quality(spark, sf).filter(F.col("is_quality")).select("doc_id")
    low_rep = q_docs_repetition(spark, sf).filter(
        F.col("dup_permille") <= 300
    ).select("doc_id")
    contaminated = q_decontam_overlap(spark, sf).filter(
        F.col("contaminated")
    ).select("doc_id")
    sample = q_domain_sample(spark, sf).select("doc_id")
    return (
        d.join(drops.select("doc_id"), "doc_id", "left_anti")
        .join(quality, "doc_id")
        .join(low_rep, "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .join(sample, "doc_id", "semi")
    )


_TBP_WEIGHTS = {"en": 3, "de": 1, "es": 1, "fr": 1}
_TBP_BUDGET = 4000


def q_trainer_batch_plan(spark, sf):
    """The CAPSTONE composition — crawl output to the bytes a trainer
    mmaps: corpus_mix_clean's survivor set (near-dup CC dedup +
    quality + repetition + decontam + stratified sample) → per-lang
    TOKEN-budget cut (token_budget_mix, 4000 tokens split 3:1:1:1) →
    GPT-style concat-and-chunk sequence layout (pack_offsets, ctx 512,
    8 md5 shards). Every member is individually oracled; this nests
    all three stages in both engines, so a drift anywhere in the
    pipeline (a wrong dedup drop, a budget boundary, a packing offset)
    hash-fails the final layout."""
    from cola_spark.operators.packing import pack_offsets
    from cola_spark.operators.sampling import token_budget_mix

    surv = _mix_survivors(spark, sf)
    sel = token_budget_mix(
        surv, weights=_TBP_WEIGHTS, budget_tokens=_TBP_BUDGET,
        source_col="lang", hash_kind="md5",
    ).filter("selected").select("doc_id")
    chosen = surv.join(sel, "doc_id")
    return pack_offsets(chosen, ctx_len=512, n_shards=8, hash_kind="md5")


def _sql_trainer_batch_plan() -> str:
    total_w = sum(_TBP_WEIGHTS.values())
    vals = ", ".join(
        f"('{s}', CAST({_TBP_BUDGET * w // total_w} AS BIGINT))"
        for s, w in sorted(_TBP_WEIGHTS.items())
    )
    return (
        "WITH RECURSIVE\n" + _MIX_PREFIX_CTES + r""",
q AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE len(string_split_regex(trim(text), '\s+')) >= 20
        AND (length(text) - length(replace(text, 'the', ''))) / 3 > 0),
surv AS (SELECT d.doc_id, d.lang,
                CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT)
                  AS n_tok
         FROM documents d
         JOIN q ON q.doc_id = d.doc_id
         JOIN rep ON rep.doc_id = d.doc_id
         WHERE d.doc_id % 20 <> 7
           AND d.doc_id NOT IN (SELECT doc_id FROM drops)
           AND d.doc_id NOT IN (SELECT doc_id FROM contam)
           AND d.doc_id IN (SELECT doc_id FROM samp)),
"""
        + rf"""wts AS (SELECT * FROM (VALUES {vals}) AS t(wl, budget_tok)),
mixo AS (
  SELECT doc_id, lang, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY lang
                   ORDER BY CAST(('0x' || substr(md5('mix:' ||
                     CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM surv),
sel AS (SELECT o.doc_id, o.n_tok FROM mixo o
        LEFT JOIN wts w ON w.wl = o.lang
        WHERE o.cum_before < COALESCE(w.budget_tok, 0)),
pb AS (SELECT doc_id, n_tok,
              CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 8 AS shard
       FROM sel),
pc AS (SELECT doc_id, shard, n_tok,
              SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok
                AS start_off
       FROM pb)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tok,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // 512 AS BIGINT) AS first_bin,
       CAST((start_off + n_tok - 1) // 512 AS BIGINT) AS last_bin
FROM pc
"""
    )


SQL_TRAINER_BATCH_PLAN = _sql_trainer_batch_plan()

PAIRS.update({"trainer_batch_plan": (q_trainer_batch_plan, SQL_TRAINER_BATCH_PLAN)})


def q_mirror_host_pairs(spark, sf):
    """Mirror-site detection (linkrank.mirror_host_pairs) on a PLANTED
    mirror universe: 'mirror0' serves an exact copy of src0's docs
    (Jaccard 1000 — detected), 'mirror1' serves ~a quarter of src1's
    (Jaccard ~250 — correctly BELOW the 500 cut), and the base
    corpus's cross-source exact-dup docs give tiny overlaps (also
    excluded) — threshold exercised from both sides. Host-granularity
    dedup: the signal that retires a mirrored HOST and its fetch
    budget, not just its docs one by one."""
    from cola_spark.operators.linkrank import mirror_host_pairs

    docs = _t(spark, sf, "documents").select("doc_id", "text", "source")
    m0 = docs.filter(F.col("source") == "src0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        F.lit("mirror0").alias("source"),
    )
    m1 = docs.filter(
        (F.col("source") == "src1") & (F.col("doc_id") % 80 == 1)
    ).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "text",
        F.lit("mirror1").alias("source"),
    )
    return mirror_host_pairs(
        docs.unionByName(m0).unionByName(m1), min_jaccard_x1000=500
    )


SQL_MIRROR_HOSTS = """
WITH planted AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL SELECT doc_id + 100000, text, 'mirror0' FROM documents
  WHERE source = 'src0'
  UNION ALL SELECT doc_id + 200000, text, 'mirror1' FROM documents
  WHERE source = 'src1' AND doc_id % 80 = 1),
fp AS (SELECT DISTINCT source AS host, md5(text) AS fp FROM planted),
sizes AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY host),
cm AS (SELECT a.host AS host_a, b.host AS host_b,
              CAST(COUNT(*) AS BIGINT) AS common
       FROM fp a JOIN fp b ON a.fp = b.fp AND a.host < b.host
       GROUP BY 1, 2),
j AS (SELECT c.host_a, c.host_b, c.common, sa.n AS n_a, sb.n AS n_b,
             CAST((1000 * c.common) // (sa.n + sb.n - c.common) AS BIGINT)
               AS jac_x1000
      FROM cm c
      JOIN sizes sa ON sa.host = c.host_a
      JOIN sizes sb ON sb.host = c.host_b)
SELECT host_a, host_b, common, n_a, n_b, jac_x1000
FROM j WHERE jac_x1000 >= 500
"""

PAIRS.update({"mirror_host_pairs": (q_mirror_host_pairs, SQL_MIRROR_HOSTS)})


def q_sitemap_seed_expand(spark, sf):
    """Sitemap-driven seed expansion — crawl discovery beyond page
    links (SURVEY §2 seed injection, upgraded to the sitemap protocol):
    per-host sitemap XML (deterministic synthetic: 3 <loc> entries per
    host, URLs intentionally MESSY — uppercase scheme/host, explicit
    :80, fragment, unsorted query) is parsed with one JVM-side
    regexp_extract_all, every URL canonicalized (functions/urls.py —
    this makes the canonicalizer itself driver-oracled: the DuckDB
    side computes the expected canonical form from the generation
    recipe, so a parser/normalization drift hash-fails), deduped
    within the batch, and anti-joined against the seen store (pages
    k < 10 already crawled). Output: (host, url_canon) — the admitted
    new frontier seeds. One explode + one anti-join; no Python."""
    from cola_spark.functions.urls import canonicalize_url

    hosts = spark.range(40).select(F.col("id").alias("h"))
    hs = F.col("h").cast("string")

    def ent(j: int):
        k = F.pmod(
            _md5_col(F.concat(F.lit("sm:"), hs, F.lit(f"_{j}"))), F.lit(50)
        ).cast("string")
        return F.concat(
            F.lit("<loc>HTTP://H"), hs, F.lit(".EXAMPLE.com:80/p"), k,
            F.lit(f"?b=2&a=1#sec{j}"), F.lit("</loc>"),
        )

    sitemaps = hosts.select(
        "h",
        F.concat(
            F.lit("<urlset>"), ent(0), ent(1), ent(2), F.lit("</urlset>")
        ).alias("xml"),
    )
    locs = sitemaps.select(
        "h",
        F.explode(
            F.regexp_extract_all("xml", F.lit(r"<loc>([^<]+)</loc>"), F.lit(1))
        ).alias("url"),
    )
    canon = locs.select(
        "h", canonicalize_url(F.col("url")).alias("url_canon")
    ).distinct()
    seen = (
        hosts.select("h", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"))
        .select(
            F.concat(
                F.lit("http://h"), hs, F.lit(".example.com/p"),
                F.col("k").cast("string"), F.lit("?a=1&b=2"),
            ).alias("url_canon")
        )
    )
    return (
        canon.join(seen.hint("shuffle_hash"), "url_canon", "left_anti")
        .select(
            F.concat(F.lit("h"), hs, F.lit(".example.com")).alias("host"),
            "url_canon",
        )
    )


SQL_SITEMAP_SEEDS = """
WITH hosts AS (SELECT CAST(h AS BIGINT) AS h FROM UNNEST(range(0, 40)) t(h)),
ent AS (
  SELECT h, j,
         CAST(('0x' || substr(md5('sm:' || CAST(h AS VARCHAR) || '_'
              || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 50 AS k
  FROM hosts, UNNEST(range(0, 3)) tj(j)),
canon AS (
  SELECT DISTINCT h,
         'http://h' || CAST(h AS VARCHAR) || '.example.com/p'
           || CAST(k AS VARCHAR) || '?a=1&b=2' AS url_canon, k
  FROM ent),
seen AS (
  SELECT 'http://h' || CAST(h AS VARCHAR) || '.example.com/p'
           || CAST(k AS VARCHAR) || '?a=1&b=2' AS url_canon
  FROM hosts, UNNEST(range(0, 10)) tk(k))
SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host, url_canon
FROM canon WHERE url_canon NOT IN (SELECT url_canon FROM seen)
"""

PAIRS.update({"sitemap_seed_expand": (q_sitemap_seed_expand, SQL_SITEMAP_SEEDS)})


def q_embedding_pca1(spark, sf):
    """PCA by integer power iteration (similarity.embedding_pca1): the
    corpus's dominant principal direction from 3 exact-integer power
    iterations on the grid-snapped Gram matrix, then every vector's
    pc1 projection — the spectral member of the trained-relational
    family (GD, Lloyd, PageRank, BPE). The oracle unrolls the Gram
    build + all 3 iterations (overflow-/sign-safe rescale) as CTEs: a
    wrong matrix-vector product, max, sign, or division rule
    hash-fails."""
    from cola_spark.operators.similarity import embedding_pca1

    return embedding_pca1(_t(spark, sf, "embeddings"), iters=3)


def _sql_pca1_ctes(
    iters: int = 3, grid: int = 1000, vscale: int = 1_000_000,
    gram_div: int = 1, dim: int = 64,
) -> list:
    js = ", ".join(str(j) for j in range(dim))
    ctes = [
        f"""g AS (
  SELECT vec_id, j,
         CAST(FLOOR(CAST(embedding[j + 1] AS DOUBLE) * {grid}) AS BIGINT) AS ie
  FROM embeddings, UNNEST([{js}]) AS t(j))""",
        f"""gram AS (
  SELECT a.j AS i, b.j AS jj,
         CAST(SUM(a.ie * b.ie) // {gram_div} AS BIGINT) AS gij
  FROM g a JOIN g b ON a.vec_id = b.vec_id GROUP BY 1, 2)""",
        f"""v0 AS (SELECT CAST(jj AS INTEGER) AS jj,
               CAST({vscale} AS BIGINT) AS v
        FROM UNNEST(range(0, {dim})) AS t(jj))""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""w{t} AS (
  SELECT gr.i, CAST(SUM(gr.gij * v.v) AS BIGINT) AS w
  FROM gram gr JOIN v{t - 1} v ON v.jj = gr.jj GROUP BY gr.i)""")
        ctes.append(f"""m{t} AS (
  SELECT ABS(w) AS m, CASE WHEN w < 0 THEN -1 ELSE 1 END AS sg
  FROM w{t} ORDER BY ABS(w) DESC, i LIMIT 1)""")
        ctes.append(f"""v{t} AS (
  SELECT CAST(w.i AS INTEGER) AS jj,
         CAST((w.w * m.sg + m.m) // GREATEST(m.m // {vscale}, 1)
              - {vscale} AS BIGINT) AS v
  FROM w{t} w, m{t} m)""")
    return ctes


def _sql_embedding_pca1(
    iters: int = 3, grid: int = 1000, vscale: int = 1_000_000,
    gram_div: int = 1, dim: int = 64,
) -> str:
    ctes = _sql_pca1_ctes(iters, grid, vscale, gram_div, dim)
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT g.vec_id, CAST(SUM(g.ie * v.v) AS BIGINT) AS pc1
FROM g JOIN v{iters} v ON v.jj = g.j
GROUP BY g.vec_id
"""
    )


SQL_EMBEDDING_PCA1 = _sql_embedding_pca1()

PAIRS.update({"embedding_pca1": (q_embedding_pca1, SQL_EMBEDDING_PCA1)})


def q_ann_pca_bucket_topk(spark, sf):
    """Projection-pruned ANN (similarity.pca_bucket_topk): the 1-D
    member of the index family — candidates restricted to the query's
    ±1 pc1 buckets (width 2^29 ≈ half the corpus scanned on these
    near-isotropic synthetic vectors; recall@5 vs brute 0.94 at sf0.01
    / 0.80 at sf0.001, probe=ALL ≡ brute test-pinned — 1-D pruning
    honestly tracks the spectrum and the norm-comparability caveat is
    documented on the operator), then exact cosine rank. Oracle nests
    the FULL power-iteration CTE chain plus bucketing, probing, and
    ranking."""
    from cola_spark.operators.similarity import pca_bucket_topk

    embs = _t(spark, sf, "embeddings")
    return pca_bucket_topk(
        embs.filter(F.col("vec_id") < 10), embs,
        k=5, bucket_width=1 << 29, probe=1,
    )


def _sql_ann_pca_bucket(
    k: int = 5, bucket_width: int = 1 << 29, probe: int = 1,
    iters: int = 3,
) -> str:
    shift = 1 << 40
    ctes = _sql_pca1_ctes(iters=iters)
    ctes.append(f"""pc AS (
  SELECT g.vec_id, CAST(SUM(g.ie * v.v) AS BIGINT) AS pc1
  FROM g JOIN v{iters} v ON v.jj = g.j GROUP BY g.vec_id)""")
    ctes.append(f"""cb AS (
  SELECT vec_id AS neighbor_id,
         (pc1 + {shift}) // {bucket_width} AS bucket
  FROM pc)""")
    ctes.append(f"""qb AS (
  SELECT vec_id AS query_id,
         (pc1 + {shift}) // {bucket_width} + d AS bucket
  FROM pc, UNNEST(range(-{probe}, {probe + 1})) AS t(d)
  WHERE vec_id < 10)""")
    ctes.append("""cand AS (
  SELECT q.query_id, c.neighbor_id
  FROM qb q JOIN cb c USING (bucket)
  WHERE c.neighbor_id <> q.query_id)""")
    ctes.append("""sims AS (
  SELECT ca.query_id, ca.neighbor_id,
         list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
                                CAST(ec.embedding AS DOUBLE[])) AS sim
  FROM cand ca
  JOIN embeddings eq ON eq.vec_id = ca.query_id
  JOIN embeddings ec ON ec.vec_id = ca.neighbor_id)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS BIGINT)
           AS rank
  FROM sims) WHERE rank <= {k}
"""
    )


SQL_ANN_PCA_BUCKET = _sql_ann_pca_bucket()

PAIRS.update({"ann_pca_bucket_topk": (q_ann_pca_bucket_topk, SQL_ANN_PCA_BUCKET)})


# ------------------------------------------ rendezvous routing (round 5)


def q_rendezvous_route(spark, sf):
    """Rendezvous/HRW frontier routing (operators/routing.py — the
    consistent-hashing upgrade to SURVEY §2 row 4's mod-hash node
    routing): owner(url) = argmax_w hash(url|w), so growing the worker
    pool 8→9 moves only ~1/9 of the frontier and EVERY moved key moves
    to the new node — vs 8/9 churn under hash%W. Pure map-side (W
    integer hashes + an expanded argmax chain per row, no shuffle, no
    array sort); the full movement decision table is the output, so the
    oracle verifies the minimal-disruption contract key by key."""
    from cola_spark.operators.routing import rendezvous_route

    li = _t(spark, sf, "lineitem")
    url = F.concat(
        F.lit("http://h"),
        F.pmod(F.col("l_orderkey"), F.lit(97)).cast("string"),
        F.lit(".example.com/p"),
        F.col("l_orderkey").cast("string"),
        F.lit("_"),
        F.col("l_linenumber").cast("string"),
    )
    return rendezvous_route(
        li.select(url.alias("url")), n_before=8, n_after=9, hash_kind="md5"
    )


def _sql_rendezvous(n_before: int = 8, n_after: int = 9) -> str:
    scores = ",\n       ".join(
        _md5i("url || '|%d'" % w, "hrw") + f" AS s{w}" for w in range(n_after)
    )

    def owner(n: int) -> str:
        g = "GREATEST(" + ", ".join(f"s{w}" for w in range(n)) + ")"
        cases = " ".join(f"WHEN s{w} = {g} THEN {w}" for w in range(n))
        return f"CAST(CASE {cases} END AS BIGINT)"

    return f"""
WITH u AS (
  SELECT 'http://h' || CAST(l_orderkey % 97 AS VARCHAR) || '.example.com/p'
         || CAST(l_orderkey AS VARCHAR) || '_'
         || CAST(l_linenumber AS VARCHAR) AS url
  FROM lineitem),
s AS (SELECT url,
       {scores}
      FROM u)
SELECT url,
       {owner(n_before)} AS owner_before,
       {owner(n_after)} AS owner_after,
       {owner(n_before)} <> {owner(n_after)} AS moved
FROM s
"""


SQL_RENDEZVOUS_ROUTE = _sql_rendezvous()

PAIRS.update({"rendezvous_route": (q_rendezvous_route, SQL_RENDEZVOUS_ROUTE)})


# --------------------------------------- HLL seen cardinality (round 5)


_HLL_URL = (
    "'http://h' || CAST(l_orderkey % 97 AS VARCHAR) || '.example.com/p'"
    " || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"
)


def _hll_urls(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        F.concat(
            F.lit("http://h"),
            F.pmod(F.col("l_orderkey"), F.lit(97)).cast("string"),
            F.lit(".example.com/p"),
            F.col("l_orderkey").cast("string"),
            F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ).alias("url")
    )


def q_hll_registers(spark, sf):
    """HyperLogLog sketch state (operators/cardinality.py) over the
    frontier URL universe — the 256-row register table, every register
    replayed bit-for-bit by the oracle (hash → bucket/rank split →
    trailing-zero rank via bit_count(w XOR (w-1)) → per-bucket max).
    One map-side pass + a 256-key combinable groupBy at any corpus
    size; elementwise-max mergeable across partitions/rounds
    (test-pinned). The production seen-cardinality metric at 10^10
    URLs — countDistinct's full key shuffle replaced by a sketch of a
    few hundred bytes."""
    from cola_spark.operators.cardinality import hll_registers

    return hll_registers(_hll_urls(spark, sf))


_SQL_HLL_REGS_CTES = f"""u AS (SELECT {_HLL_URL} AS url FROM lineitem),
hh AS (SELECT CAST(('0x' || substr(md5('hll:' || url), 1, 15)) AS BIGINT)
         AS h FROM u),
hw AS (SELECT h % 256 AS bucket, h // 256 AS w FROM hh),
rk AS (SELECT bucket,
              LEAST(CASE WHEN w = 0 THEN 53
                    ELSE CAST(bit_count(xor(w, w - 1)) AS BIGINT) END,
                    40) AS rnk
       FROM hw),
occ AS (SELECT bucket, MAX(rnk) AS register FROM rk GROUP BY bucket),
spine AS (SELECT CAST(i AS BIGINT) AS bucket
          FROM UNNEST(generate_series(0, 255)) AS t(i)),
regs AS (SELECT s.bucket, CAST(COALESCE(o.register, 0) AS BIGINT) AS register
         FROM spine s LEFT JOIN occ o ON s.bucket = o.bucket)"""

SQL_HLL_REGISTERS = (
    "WITH " + _SQL_HLL_REGS_CTES + "\nSELECT bucket, register FROM regs"
)


def q_hll_seen_estimate(spark, sf):
    """The one-row integer HLL estimate from the register table
    (m, n_empty, s_scaled, est) joined with the exact countDistinct as
    a test-scale audit column (exact_distinct, err_permille — the
    exact count is the SANDBOX audit; at scale the sketch replaces it,
    which is the point). All arithmetic on the integer grid — see the
    module docstring for the overflow-saturated α_256 rational form."""
    from cola_spark.operators.cardinality import hll_estimate, hll_registers

    urls = _hll_urls(spark, sf)
    est = hll_estimate(hll_registers(urls))
    exact = urls.agg(
        F.countDistinct("url").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(exact).select(
        "m",
        "n_empty",
        "s_scaled",
        "est",
        "exact_distinct",
        F.expr("abs(est - exact_distinct) * 1000 div exact_distinct")
        .cast("long")
        .alias("err_permille"),
    )


SQL_HLL_ESTIMATE = (
    "WITH "
    + _SQL_HLL_REGS_CTES
    + """,
agg AS (SELECT CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_empty,
        CAST(SUM(CAST(1 AS BIGINT) << CAST(40 - register AS INTEGER))
          AS BIGINT) AS s_scaled
        FROM regs),
ex AS (SELECT CAST(COUNT(DISTINCT url) AS BIGINT) AS exact_distinct FROM u),
es AS (SELECT CAST(256 AS BIGINT) AS m, n_empty, s_scaled,
        CAST((718273 * LEAST((CAST(65536 AS BIGINT)
                              * (CAST(1 AS BIGINT) << 40)) // s_scaled,
                             12800000000000)) // 1000000 AS BIGINT) AS est
       FROM agg)
SELECT m, n_empty, s_scaled, est, exact_distinct,
       CAST(abs(est - exact_distinct) * 1000 // exact_distinct AS BIGINT)
         AS err_permille
FROM es, ex"""
)

PAIRS.update(
    {
        "hll_registers": (q_hll_registers, SQL_HLL_REGISTERS),
        "hll_seen_estimate": (q_hll_seen_estimate, SQL_HLL_ESTIMATE),
    }
)


# ------------------------------------ registrable domains (round 5)


def q_registrable_domain(spark, sf):
    """Registrable-domain (eTLD+1) politeness grouping
    (operators/domains.py): longest-public-suffix match over a
    broadcast suffix dim — the granularity every open-web crawler
    groups politeness by (per-HOST budgets over-throttle subdomain
    families of one registrant and under-throttle private-registry
    hosts). Universe: per-site suffix drawn from {com, co.uk,
    github.io, ac.uk, zz} (2-label suffixes, a private registry that
    overrides its parent, an UNLISTED TLD exercising the PSL `*`
    default), per-URL subdomain depth 0-2. Output: the per-host
    decision table + URL counts — the politeness regroup is one
    further groupBy on `registrable`."""
    from cola_spark.operators.domains import registrable_domain

    li = _t(spark, sf, "lineitem")
    site = F.pmod(F.col("l_orderkey"), F.lit(200))
    sub_i = F.pmod(
        _md5_col(
            F.concat(
                F.lit("sub:"),
                F.col("l_orderkey").cast("string"),
                F.lit("_"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        F.lit(3),
    )
    sfx_i = F.pmod(
        _md5_col(F.concat(F.lit("sfx:"), site.cast("string"))), F.lit(5)
    )
    host = F.concat(
        F.element_at(F.array(F.lit(""), F.lit("www."), F.lit("a.b.")),
                     (sub_i + 1).cast("int")),
        F.lit("site"),
        site.cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("co.uk"), F.lit("github.io"),
                    F.lit("ac.uk"), F.lit("zz")),
            (sfx_i + 1).cast("int"),
        ),
    )
    counts = (
        li.select(host.alias("host"))
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("n_urls"))
    )
    rd = registrable_domain(counts)
    # both sides are host-scale: pin shuffle_hash (the bloom-gate rule)
    return counts.join(rd.hint("shuffle_hash"), "host").select(
        "host", "n_urls", "public_suffix", "registrable"
    )


SQL_REGISTRABLE_DOMAIN = """
WITH raw AS (
  SELECT l_orderkey % 200 AS site,
         CAST(('0x' || substr(md5('sub:' || CAST(l_orderkey AS VARCHAR)
              || '_' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)
           % 3 AS sub_i
  FROM lineitem),
h AS (
  SELECT CASE sub_i WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'a.b.' END
         || 'site' || CAST(site AS VARCHAR) || '.'
         || CASE CAST(('0x' || substr(md5('sfx:' || CAST(site AS VARCHAR)),
                       1, 15)) AS BIGINT) % 5
              WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'github.io'
              WHEN 3 THEN 'ac.uk' ELSE 'zz' END AS host
  FROM raw),
hc AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls FROM h GROUP BY host),
lb AS (SELECT host, n_urls, string_split(host, '.') AS l,
              len(string_split(host, '.')) AS n
       FROM hc),
sufs(suffix) AS (VALUES ('com'), ('org'), ('net'), ('io'), ('uk'),
                        ('co.uk'), ('ac.uk'), ('github.io')),
cand AS (
  SELECT host, k, array_to_string(list_slice(l, n - k + 1, n), '.') AS cand
  FROM lb, UNNEST(generate_series(1, 3)) AS t(k)
  WHERE n >= k),
m AS (
  SELECT c.host, MAX(c.k) AS mk
  FROM cand c JOIN sufs s ON c.cand = s.suffix
  GROUP BY c.host),
ms AS (
  SELECT lb.host,
         COALESCE(m.mk, 1) AS mk,
         CASE WHEN m.mk IS NOT NULL
              THEN array_to_string(list_slice(lb.l, lb.n - m.mk + 1, lb.n),
                                   '.')
              ELSE lb.l[lb.n] END AS suf,
         lb.n, lb.l, lb.n_urls
  FROM lb LEFT JOIN m ON lb.host = m.host)
SELECT host, n_urls, suf AS public_suffix,
       CASE WHEN n > mk THEN l[n - mk] || '.' || suf END AS registrable
FROM ms
"""

PAIRS.update(
    {"registrable_domain": (q_registrable_domain, SQL_REGISTRABLE_DOMAIN)}
)


# --------------------------------------- robots.txt parsing (round 5)


def _robots_universe(spark):
    """50 hosts; every robots.txt has a `*` group (Disallow /private,
    Allow /private/ok, an empty no-op Disallow, a Crawl-Delay, and an
    equal-length /t tie pair); every third host APPENDS a two-UA group
    (colabot+otherbot) whose rules REPLACE the `*` group for those
    agents. Comments, blank lines, mixed directive case throughout."""
    h = F.col("id")
    hs = h.cast("string")
    qs = F.pmod(h, F.lit(5)).cast("string")
    d1 = (F.pmod(h, F.lit(3)) + 2).cast("string")
    d2 = (F.pmod(h, F.lit(4)) + 1).cast("string")
    star = F.concat(
        F.lit("# robots h"), hs,
        F.lit("\nUser-Agent: *\nDisallow: /private\nAllow: /private/ok"
              "\nDisallow:\nCrawl-Delay: "),
        d1,
        F.lit("\nDisallow: /t\nAllow: /t"),
    )
    bot = F.concat(
        F.lit("\n\nUser-agent: colabot\nUser-agent: otherbot\nDisallow: /p"),
        qs,
        F.lit("\nAllow: /p"), qs, F.lit("/ok\nCrawl-delay: "), d2,
    )
    txt = F.concat(
        star, F.when(F.pmod(h, F.lit(3)) == 0, bot).otherwise(F.lit(""))
    )
    host = F.concat(F.lit("h"), hs, F.lit(".example.com"))
    hosts = spark.range(50)
    rb = hosts.select(host.alias("host"), txt.alias("txt"))
    paths = F.array(
        F.lit("/private/a"), F.lit("/private/ok/b"), F.lit("/p0/x"),
        F.lit("/p1"), F.lit("/p2/ok/c"), F.lit("/home"), F.lit("/p3"),
        F.lit("/t/x"),
    )
    fr = hosts.select(
        host.alias("host"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
        paths.alias("_p"),
    ).select("host", F.element_at("_p", F.col("j") + 1).alias("path"))
    return rb, fr


def q_robots_parse_gate(spark, sf):
    """robots.txt PARSED, not assumed (operators/robots.py round-5
    half — the sitemap treatment applied to SURVEY §2 row 11): raw
    per-host robots text → comment strip → directive extraction → UA
    block numbering (one host-keyed window) → most-specific-group
    selection (exact agent REPLACES `*` — groups don't merge) →
    per-URL longest-prefix decision with Allow-beats-Disallow on
    length ties (one combinable max(struct)). The oracle replays the
    entire parse and decision; the planted universe makes every rule
    live: tie pair, empty no-op Disallow, multi-UA block, star-only
    vs overridden hosts."""
    from cola_spark.operators.robots import parse_robots_rules, robots_decide

    rb, fr = _robots_universe(spark)
    return robots_decide(fr, parse_robots_rules(rb, agent="colabot"))


def q_robots_crawl_delay(spark, sf):
    """Crawl-delay of the governing UA group per host (min over the
    group's delay lines) — feeds politeness_schedule's delay_ms.
    Same parse as robots_parse_gate."""
    from cola_spark.operators.robots import parse_robots_delay

    rb, _ = _robots_universe(spark)
    return parse_robots_delay(rb, agent="colabot")


_SQL_ROBOTS_PARSE_CTES = r"""hosts AS (
  SELECT CAST(i AS BIGINT) AS h FROM UNNEST(generate_series(0, 49)) AS t(i)),
rb AS (
  SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
         '# robots h' || CAST(h AS VARCHAR) || chr(10) ||
         'User-Agent: *' || chr(10) ||
         'Disallow: /private' || chr(10) ||
         'Allow: /private/ok' || chr(10) ||
         'Disallow:' || chr(10) ||
         'Crawl-Delay: ' || CAST(h % 3 + 2 AS VARCHAR) || chr(10) ||
         'Disallow: /t' || chr(10) || 'Allow: /t' ||
         CASE WHEN h % 3 = 0 THEN
           chr(10) || chr(10) ||
           'User-agent: colabot' || chr(10) ||
           'User-agent: otherbot' || chr(10) ||
           'Disallow: /p' || CAST(h % 5 AS VARCHAR) || chr(10) ||
           'Allow: /p' || CAST(h % 5 AS VARCHAR) || '/ok' || chr(10) ||
           'Crawl-delay: ' || CAST(h % 4 + 1 AS VARCHAR)
         ELSE '' END AS txt
  FROM hosts),
lines0 AS (SELECT host, string_split(txt, chr(10)) AS ls FROM rb),
lines1 AS (SELECT host, CAST(i AS BIGINT) AS line_no, ls[i] AS line
           FROM lines0, UNNEST(generate_series(1, len(ls))) AS t(i)),
lp AS (SELECT host, line_no,
        lower(regexp_extract(trim(regexp_replace(line, '#.*$', '')),
          '(?i)^(user-agent|disallow|allow|crawl-delay)\s*:\s*(.*)$', 1))
          AS dir,
        trim(regexp_extract(trim(regexp_replace(line, '#.*$', '')),
          '(?i)^(user-agent|disallow|allow|crawl-delay)\s*:\s*(.*)$', 2))
          AS val
       FROM lines1),
bl0 AS (SELECT host, line_no, dir, val, (dir = 'user-agent') AS is_ua,
         COALESCE(LAG(dir = 'user-agent')
           OVER (PARTITION BY host ORDER BY line_no), FALSE) AS prev_ua
        FROM lp),
bl AS (SELECT host, line_no, dir, val, is_ua,
        SUM(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
          OVER (PARTITION BY host ORDER BY line_no
                ROWS UNBOUNDED PRECEDING) AS block
       FROM bl0),
uas AS (SELECT host, block, lower(val) AS ua FROM bl WHERE is_ua),
ex AS (SELECT DISTINCT host, block FROM uas WHERE ua = 'colabot'),
st AS (SELECT DISTINCT host, block FROM uas WHERE ua = '*'),
ch AS (SELECT host, block FROM ex
       UNION
       SELECT host, block FROM st
       WHERE host NOT IN (SELECT host FROM ex)),
rules AS (SELECT b.host, b.val AS prefix, (b.dir = 'allow') AS is_allow
          FROM bl b JOIN ch ON b.host = ch.host AND b.block = ch.block
          WHERE b.dir IN ('allow', 'disallow') AND b.val <> '')"""

SQL_ROBOTS_PARSE_GATE = (
    "WITH "
    + _SQL_ROBOTS_PARSE_CTES
    + r""",
fr AS (SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
        CASE j WHEN 0 THEN '/private/a' WHEN 1 THEN '/private/ok/b'
               WHEN 2 THEN '/p0/x' WHEN 3 THEN '/p1' WHEN 4 THEN '/p2/ok/c'
               WHEN 5 THEN '/home' WHEN 6 THEN '/p3' ELSE '/t/x' END AS path
       FROM hosts, UNNEST(generate_series(0, 7)) AS t(j)),
hits AS (SELECT f.host, f.path, r.prefix, r.is_allow
         FROM fr f LEFT JOIN rules r
           ON f.host = r.host AND starts_with(f.path, r.prefix)),
rk AS (SELECT host, path, prefix, is_allow,
        ROW_NUMBER() OVER (PARTITION BY host, path
                           ORDER BY length(prefix) DESC,
                                    is_allow DESC) AS rn
       FROM hits WHERE prefix IS NOT NULL),
best AS (SELECT host, path, CAST(length(prefix) AS BIGINT) AS ml, is_allow
         FROM rk WHERE rn = 1)
SELECT f.host, f.path,
       COALESCE(b.ml, 0) AS matched_len,
       COALESCE(b.is_allow, TRUE) AS allowed
FROM (SELECT DISTINCT host, path FROM fr) f
LEFT JOIN best b ON f.host = b.host AND f.path = b.path
"""
)

SQL_ROBOTS_CRAWL_DELAY = (
    "WITH "
    + _SQL_ROBOTS_PARSE_CTES
    + r"""
SELECT b.host, MIN(CAST(b.val AS BIGINT)) AS delay_s
FROM bl b JOIN ch ON b.host = ch.host AND b.block = ch.block
WHERE b.dir = 'crawl-delay' AND regexp_matches(b.val, '^[0-9]+$')
GROUP BY b.host
"""
)

PAIRS.update(
    {
        "robots_parse_gate": (q_robots_parse_gate, SQL_ROBOTS_PARSE_GATE),
        "robots_crawl_delay": (q_robots_crawl_delay, SQL_ROBOTS_CRAWL_DELAY),
    }
)


# ----------------------------------- latency quantile sketch (round 5)


def q_fetch_latency_quantiles(spark, sf):
    """Tail-latency quantiles from the mergeable log2-histogram sketch
    (operators/counters.py): p50/p95/p99 bounds over a planted
    heavy-tailed per-event fetch latency (1 + h1 mod 2^(1 + h2 mod 12)
    — 12 octaves of spread). The corpus-scale work is ONE map-side
    pass into a ≤13-key combinable groupBy; everything after is
    config-scale. floor(log2) is the branch-free smear+popcount idiom
    — no floats, so DuckDB replays the sketch and the quantile
    selection exactly. cola tracks mean speed only; tail policy is
    what a 10^10-fetch scheduler actually needs."""
    from cola_spark.operators.counters import (
        histogram_quantiles,
        log2_histogram,
    )

    ev = _t(spark, sf, "events")
    base = ev.select(
        _md5_col(
            F.concat(F.lit("lat:"), F.col("event_id").cast("string"))
        ).alias("h1"),
        _md5_col(
            F.concat(F.lit("spread:"), F.col("event_id").cast("string"))
        ).alias("h2"),
    )
    lat = base.select(
        F.expr(
            "1 + h1 % shiftleft(CAST(1 AS BIGINT),"
            " CAST(1 + h2 % 12 AS INT))"
        ).alias("lat_ms")
    )
    return histogram_quantiles(log2_histogram(lat, "lat_ms"))


SQL_FETCH_LATENCY_QUANTILES = """
WITH e AS (
  SELECT CAST(('0x' || substr(md5('lat:' || CAST(event_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS h1,
         CAST(('0x' || substr(md5('spread:' || CAST(event_id AS VARCHAR)),
               1, 15)) AS BIGINT) AS h2
  FROM events),
l AS (SELECT 1 + h1 % (CAST(1 AS BIGINT) << CAST(1 + h2 % 12 AS INTEGER))
        AS v FROM e),
s1 AS (SELECT v | (v >> 1) AS m FROM l),
s2 AS (SELECT m | (m >> 2) AS m FROM s1),
s3 AS (SELECT m | (m >> 4) AS m FROM s2),
s4 AS (SELECT m | (m >> 8) AS m FROM s3),
s5 AS (SELECT m | (m >> 16) AS m FROM s4),
s6 AS (SELECT m | (m >> 32) AS m FROM s5),
hist AS (SELECT CAST(bit_count(m) - 1 AS BIGINT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS cnt
         FROM s6 GROUP BY 1),
c AS (SELECT bucket,
             CAST(SUM(cnt) OVER (ORDER BY bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             (SELECT CAST(SUM(cnt) AS BIGINT) FROM hist) AS n
      FROM hist),
t(permille) AS (VALUES (CAST(500 AS BIGINT)), (CAST(950 AS BIGINT)),
                       (CAST(990 AS BIGINT))),
sel AS (SELECT t.permille, MAX(c.n) AS n, CAST(MIN(c.bucket) AS BIGINT)
          AS bucket
        FROM t JOIN c ON c.cum >= (t.permille * c.n + 999) // 1000
        GROUP BY t.permille)
SELECT permille, n,
       CAST((permille * n + 999) // 1000 AS BIGINT) AS rank_needed,
       bucket,
       CAST(1 AS BIGINT) << CAST(bucket AS INTEGER) AS lb,
       (CAST(1 AS BIGINT) << CAST(bucket + 1 AS INTEGER)) - 1 AS ub
FROM sel
"""

PAIRS.update(
    {
        "fetch_latency_quantiles": (
            q_fetch_latency_quantiles,
            SQL_FETCH_LATENCY_QUANTILES,
        )
    }
)


# ------------------------------- CLIP top-p percentile gate (round 5)


def q_clip_percentile_filter(spark, sf):
    """DataComp's actual CLIP gate: LAION keeps cos >= 0.28, DataComp
    keeps the TOP-p FRACTION by CLIP score (30% here) — a global-rank
    cut, not a fixed threshold. Composes clip_align_filter's exact
    integer decision table; the float cosine is ONLY the ordering key
    (one IEEE divide + sqrt over exact int64 sums — bit-identical
    cross-engine, the caption_image_retrieval rule), computed
    cast-before-multiply so both engines take the same rounding path;
    rank is the two-phase global_rank (no single-partition window —
    the writer-shaped scale fix), tie-broken by doc_id. Output: the
    full auditable table (doc_id, dot, na, nb, rank, kept)."""
    from cola_spark.operators.ranking import global_rank

    ali = q_clip_align_filter(spark, sf)
    s = F.when(
        F.col("nb") > 0,
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
    ).otherwise(F.lit(-2.0))
    scored = ali.select("doc_id", "dot", "na", "nb", (-s).alias("_neg"))
    ranked = global_rank(
        scored, ["_neg", "doc_id"], out_col="rank", eager_release=True
    )
    # count from the MATERIALIZED ranked frame (global_rank eager-
    # checkpoints it) — ali.agg() here would re-run the whole
    # alignment pipeline a second time (closing-bench lesson)
    n1 = ranked.agg(F.count("*").cast("long").alias("_n"))
    return ranked.crossJoin(F.broadcast(n1)).select(
        "doc_id",
        "dot",
        "na",
        "nb",
        "rank",
        (F.col("rank") <= F.expr("(300 * _n + 999) div 1000")).alias("kept"),
    )


SQL_CLIP_PERCENTILE = f"""
WITH sc AS (
  SELECT doc_id, dot, na, nb,
         CASE WHEN nb > 0
              THEN CAST(dot AS DOUBLE)
                   / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
              ELSE -2.0 END AS s
  FROM ({SQL_CLIP_ALIGN})),
rk AS (
  SELECT doc_id, dot, na, nb,
         CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS n
  FROM sc)
SELECT doc_id, dot, na, nb, rank,
       rank <= (300 * n + 999) // 1000 AS kept
FROM rk
"""

PAIRS.update(
    {
        "clip_percentile_filter": (
            q_clip_percentile_filter,
            SQL_CLIP_PERCENTILE,
        )
    }
)


# ------------------------------- crawl policy capstone (round 5)


def q_crawl_policy_plan(spark, sf):
    """The CRAWL-side capstone (trainer_batch_plan's twin on the
    scheduler side): messy discovered URLs → canonicalizer →
    trap filter → PARSED-robots gate (most-specific UA group,
    longest-prefix/allow-wins) → per-host politeness calendar whose
    delays come from the parsed Crawl-delay of the governing group —
    four individually-oracled stages nested end-to-end in both
    engines. Universe makes every branch live: a messy j=0 URL
    (uppercase scheme/host, :80, fragment, unsorted query) that
    colabot hosts robots-block and star hosts admit, a /private path
    with the OPPOSITE split (group replacement), an allow-override
    path, a depth+cycle trap dropped everywhere, and /home. Output:
    (host, url_canon, slot, offset_ms) — the fetch calendar."""
    from cola_spark.functions.urls import canonicalize_url
    from cola_spark.operators.robots import (
        parse_robots_delay,
        parse_robots_rules,
        robots_decide,
    )
    from cola_spark.operators.traps import trap_signals

    rb, _ = _robots_universe(spark)
    h = F.col("id")
    hs = h.cast("string")
    qs = F.pmod(h, F.lit(5)).cast("string")
    host = F.concat(F.lit("h"), hs, F.lit(".example.com"))
    u = spark.range(50).select(
        host.alias("host"),
        hs.alias("hs"),
        qs.alias("qs"),
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("j"),
    )
    mid = F.array(
        F.lit("/private/data"),
        F.lit("/private/ok/page"),
        F.lit("/loop/a/b/a/b/a/b/a/b/a/b"),
        F.lit("/home"),
    )
    raw = (
        F.when(
            F.col("j") == 0,
            F.concat(
                F.lit("HTTP://H"), F.col("hs"),
                F.lit(".EXAMPLE.com:80/p"), F.col("qs"),
                F.lit("0?b=2&a=1#frag"),
            ),
        )
        .when(
            F.col("j") == 5,
            F.concat(
                F.lit("http://h"), F.col("hs"), F.lit(".example.com/p"),
                F.col("qs"), F.lit("/ok/x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://h"), F.col("hs"), F.lit(".example.com"),
                F.element_at(mid, F.col("j")),
            )
        )
    )
    wpath = u.select(
        "host", canonicalize_url(raw).alias("url_canon")
    ).select(
        "host",
        "url_canon",
        F.regexp_extract("url_canon", r"^[a-z]+://[^/]+([^?#]*)", 1)
        .alias("path"),
    )
    ts = trap_signals(wpath, url_col="path", key_col="url_canon")
    keep1 = wpath.join(
        ts.filter(~F.col("is_trap"))
        .select(F.col("url_key").alias("url_canon"))
        .hint("shuffle_hash"),
        "url_canon",
    )
    dec = robots_decide(keep1, parse_robots_rules(rb, agent="colabot"))
    adm = keep1.join(
        dec.filter("allowed").select("host", "path").hint("shuffle_hash"),
        ["host", "path"],
    )
    delay = parse_robots_delay(rb, agent="colabot")
    w = Window.partitionBy("host").orderBy("url_canon")
    return (
        adm.join(F.broadcast(delay), "host", "left")
        .select(
            "host",
            "url_canon",
            F.row_number().over(w).cast("long").alias("slot"),
            F.coalesce("delay_s", F.lit(500)).alias("_d"),
        )
        .select(
            "host",
            "url_canon",
            "slot",
            ((F.col("slot") - 1) * F.col("_d") * 1000)
            .cast("long")
            .alias("offset_ms"),
        )
    )


SQL_CRAWL_POLICY_PLAN = (
    "WITH "
    + _SQL_ROBOTS_PARSE_CTES
    + r""",
uu AS (SELECT h, 'h' || CAST(h AS VARCHAR) || '.example.com' AS host, j
       FROM hosts, UNNEST(generate_series(0, 5)) AS t(j)),
cn AS (SELECT host,
        CASE WHEN j = 0 THEN 'http://' || host || '/p'
               || CAST(h % 5 AS VARCHAR) || '0?a=1&b=2'
             WHEN j = 1 THEN 'http://' || host || '/private/data'
             WHEN j = 2 THEN 'http://' || host || '/private/ok/page'
             WHEN j = 3 THEN 'http://' || host
               || '/loop/a/b/a/b/a/b/a/b/a/b'
             WHEN j = 4 THEN 'http://' || host || '/home'
             ELSE 'http://' || host || '/p' || CAST(h % 5 AS VARCHAR)
               || '/ok/x' END AS url_canon,
        CASE WHEN j = 0 THEN '/p' || CAST(h % 5 AS VARCHAR) || '0'
             WHEN j = 1 THEN '/private/data'
             WHEN j = 2 THEN '/private/ok/page'
             WHEN j = 3 THEN '/loop/a/b/a/b/a/b/a/b/a/b'
             WHEN j = 4 THEN '/home'
             ELSE '/p' || CAST(h % 5 AS VARCHAR) || '/ok/x' END AS path
       FROM uu),
segs AS (SELECT url_canon, UNNEST(string_split(substr(path, 2), '/')) AS seg
         FROM cn),
rep AS (SELECT url_canon, MAX(c) AS mr
        FROM (SELECT url_canon, seg, COUNT(*) AS c FROM segs GROUP BY 1, 2)
        GROUP BY 1),
notrap AS (SELECT c.host, c.url_canon, c.path
           FROM cn c JOIN rep r ON c.url_canon = r.url_canon
           WHERE NOT (len(string_split(substr(c.path, 2), '/')) > 8
                      OR r.mr >= 4)),
hits AS (SELECT f.host, f.url_canon, f.path, r.prefix, r.is_allow
         FROM notrap f LEFT JOIN rules r
           ON f.host = r.host AND starts_with(f.path, r.prefix)),
rk AS (SELECT host, url_canon, prefix, is_allow,
        ROW_NUMBER() OVER (PARTITION BY host, url_canon
                           ORDER BY length(prefix) DESC,
                                    is_allow DESC) AS rn
       FROM hits WHERE prefix IS NOT NULL),
adm AS (SELECT n.host, n.url_canon
        FROM notrap n LEFT JOIN (SELECT host, url_canon, is_allow
                                 FROM rk WHERE rn = 1) b
          ON n.host = b.host AND n.url_canon = b.url_canon
        WHERE COALESCE(b.is_allow, TRUE)),
dl AS (SELECT b.host, MIN(CAST(b.val AS BIGINT)) AS delay_s
       FROM bl b JOIN ch ON b.host = ch.host AND b.block = ch.block
       WHERE b.dir = 'crawl-delay' AND regexp_matches(b.val, '^[0-9]+$')
       GROUP BY b.host),
pl AS (SELECT host, url_canon,
        CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY url_canon)
          AS BIGINT) AS slot
       FROM adm)
SELECT p.host, p.url_canon, p.slot,
       CAST((p.slot - 1) * COALESCE(d.delay_s, 500) * 1000 AS BIGINT)
         AS offset_ms
FROM pl p LEFT JOIN dl d ON p.host = d.host
"""
)

PAIRS.update(
    {"crawl_policy_plan": (q_crawl_policy_plan, SQL_CRAWL_POLICY_PLAN)}
)


# ------------------------------------ AIMD rate control (round 5)


def q_aimd_rate_control(spark, sf):
    """cola's adaptive speed unit as TCP-style AIMD
    (operators/budget.py aimd_rates): per-host budget +1 on a clean
    round (cap 16), halved on an error round (floor 1) — the
    non-linear recurrence window functions can't express, run as the
    repo's unrolled-iteration shape (8 host-scale join+CASE passes,
    lineage-cut per round) and replayed round-for-round in the oracle
    CTE chain. Outcomes planted at 75% success (md5 % 4 != 0), so
    trajectories hit the cap, the floor, and every path between."""
    from cola_spark.operators.budget import aimd_rates

    hosts = spark.range(60).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host")
    )
    u = hosts.select(
        "host", F.explode(F.sequence(F.lit(1), F.lit(8))).alias("round")
    )
    ok = (
        F.pmod(
            _md5_col(
                F.concat(
                    F.lit("ok:"),
                    F.col("host"),
                    F.lit("_"),
                    F.col("round").cast("string"),
                )
            ),
            F.lit(4),
        )
        != 0
    )
    outcomes = u.select(
        "host", F.col("round").cast("long").alias("round"), ok.alias("ok")
    )
    return aimd_rates(outcomes, rounds=8)


def _sql_aimd(rounds: int = 8, r0: int = 4, cap: int = 16) -> str:
    ctes = [
        """u AS (SELECT 'h' || CAST(i AS VARCHAR) AS host,
                CAST(t AS BIGINT) AS round
         FROM UNNEST(generate_series(0, 59)) AS a(i),
              UNNEST(generate_series(1, 8)) AS b(t))""",
        """o AS (SELECT host, round,
                (CAST(('0x' || substr(md5('ok:' || host || '_'
                   || CAST(round AS VARCHAR)), 1, 15)) AS BIGINT) % 4) <> 0
                  AS ok
         FROM u)""",
        f"r0 AS (SELECT DISTINCT host, CAST({r0} AS BIGINT) AS rate FROM o)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"""r{t} AS (SELECT o.host, o.ok,
           CASE WHEN o.ok THEN LEAST(CAST({cap} AS BIGINT), p.rate + 1)
                ELSE GREATEST(CAST(1 AS BIGINT), p.rate // 2) END AS rate
         FROM r{t-1} p JOIN o ON o.host = p.host AND o.round = {t})"""
        )
    unions = "\nUNION ALL ".join(
        f"SELECT host, CAST({t} AS BIGINT) AS round, ok, rate FROM r{t}"
        for t in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


SQL_AIMD_RATE_CONTROL = _sql_aimd()

PAIRS.update(
    {"aimd_rate_control": (q_aimd_rate_control, SQL_AIMD_RATE_CONTROL)}
)


# ------------------------------------ link reciprocity (round 5)


def q_link_reciprocity(spark, sf):
    """Link-farm detection (linkrank.link_reciprocity): per host, the
    permille of distinct out-links that are reciprocated — a mutual-
    link clique reciprocates ~1000, organic links near-0; flagging it
    BEFORE PageRank keeps the clique from laundering its self-granted
    authority into the crawl priority (complement of
    mirror_host_pairs' content signal). Planted: a 6-host full clique
    (30 mutual edges, all flagged) over 100 organic hosts with 4
    md5-chosen out-links each (reciprocation ~permille-scale noise,
    none flagged at the 600 cut in this draw). One edge-keyed
    self-semi-join — never hosts²."""
    from cola_spark.operators.linkrank import link_reciprocity

    rnd = spark.range(100).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("src"),
        F.col("id").cast("string").alias("i"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    )
    rand_edges = rnd.select(
        "src",
        F.concat(
            F.lit("s"),
            F.pmod(
                _md5_col(
                    F.concat(F.lit("lk:"), F.col("i"), F.lit("_"),
                             F.col("k").cast("string"))
                ),
                F.lit(100),
            ).cast("string"),
        ).alias("dst"),
    )
    farm = (
        spark.range(6)
        .select(F.col("id").alias("a"))
        .crossJoin(spark.range(6).select(F.col("id").alias("b")))
        .filter("a <> b")
        .select(
            F.concat(F.lit("f"), F.col("a").cast("string")).alias("src"),
            F.concat(F.lit("f"), F.col("b").cast("string")).alias("dst"),
        )
    )
    return link_reciprocity(rand_edges.unionByName(farm))


SQL_LINK_RECIPROCITY = """
WITH rnd AS (
  SELECT 's' || CAST(i AS VARCHAR) AS src,
         's' || CAST(CAST(('0x' || substr(md5('lk:' || CAST(i AS VARCHAR)
                || '_' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 100
                AS VARCHAR) AS dst
  FROM UNNEST(generate_series(0, 99)) AS a(i),
       UNNEST(generate_series(0, 3)) AS b(k)),
farm AS (
  SELECT 'f' || CAST(a AS VARCHAR) AS src, 'f' || CAST(b AS VARCHAR) AS dst
  FROM UNNEST(generate_series(0, 5)) AS x(a),
       UNNEST(generate_series(0, 5)) AS y(b)
  WHERE a <> b),
e AS (SELECT DISTINCT src, dst
      FROM (SELECT * FROM rnd UNION ALL SELECT * FROM farm)
      WHERE src <> dst),
rec AS (SELECT e.src, e.dst FROM e
        WHERE EXISTS (SELECT 1 FROM e r
                      WHERE r.src = e.dst AND r.dst = e.src)),
o AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src),
r AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS recip_out
      FROM rec GROUP BY src)
SELECT o.src AS host, o.out_deg,
       CAST(COALESCE(r.recip_out, 0) AS BIGINT) AS recip_out,
       CAST(COALESCE(r.recip_out, 0) * 1000 // o.out_deg AS BIGINT)
         AS recip_permille,
       (COALESCE(r.recip_out, 0) * 1000 // o.out_deg >= 600
        AND o.out_deg >= 3) AS is_farm
FROM o LEFT JOIN r ON o.src = r.src
"""

PAIRS.update(
    {"link_reciprocity": (q_link_reciprocity, SQL_LINK_RECIPROCITY)}
)


# ------------------------------------ crawl snapshot diff (round 5)


def q_crawl_snapshot_diff(spark, sf):
    """Incremental re-crawl reporting (SURVEY §2 row 30's audit
    artifact): two crawl snapshots compared by page fingerprint — one
    doc-keyed FULL OUTER join (co-partitioned; the same exchange shape
    the seen-store merge pays), emitting the complete change table
    (added / removed / changed / same) that drives adaptive_recrawl's
    change-rate estimates and the chunk store's delta ingest. Planted:
    snapshot A = doc_id % 10 != 0, snapshot B = doc_id % 7 != 0 with
    every 5th page's content edited — all four statuses live."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    a = docs.filter(F.pmod("doc_id", F.lit(10)) != 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp_a")
    )
    b = docs.filter(F.pmod("doc_id", F.lit(7)) != 0).select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(5)) == 0,
            F.md5(F.concat(F.lit("v2:"), F.col("text")).cast("binary")),
        )
        .otherwise(F.md5(F.col("text").cast("binary")))
        .alias("fp_b"),
    )
    j = a.join(b.hint("shuffle_hash"), "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") != F.col("fp_b"), F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return j.select(
        "doc_id",
        F.col("fp_a").isNotNull().alias("in_prev"),
        F.col("fp_b").isNotNull().alias("in_curr"),
        status.alias("status"),
    )


SQL_CRAWL_SNAPSHOT_DIFF = """
WITH a AS (
  SELECT doc_id, md5(text) AS fp_a FROM documents WHERE doc_id % 10 <> 0),
b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN md5('v2:' || text)
              ELSE md5(text) END AS fp_b
  FROM documents WHERE doc_id % 7 <> 0)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       a.fp_a IS NOT NULL AS in_prev,
       b.fp_b IS NOT NULL AS in_curr,
       CASE WHEN a.fp_a IS NULL THEN 'added'
            WHEN b.fp_b IS NULL THEN 'removed'
            WHEN a.fp_a <> b.fp_b THEN 'changed'
            ELSE 'same' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""

PAIRS.update(
    {"crawl_snapshot_diff": (q_crawl_snapshot_diff, SQL_CRAWL_SNAPSHOT_DIFF)}
)


# ------------------------------------ redirect resolution (round 5)


def q_redirect_resolve(spark, sf):
    """Redirect-chain resolution (operators/dedup.resolve_redirects):
    the frontier keys dedup/politeness on the FINAL URL, so 301 chains
    are resolved declaratively — max_hops=3 unrolled url-keyed joins
    (the AIMD/pagerank iteration shape), with over-budget chains and
    true cycles both flagged is_cycle (indistinguishable under a hop
    budget, deliberately). Universe: 400 pages; i%8<3 plants chains of
    length 1-3 (resolved, the 3-chain lands exactly on the budget), a
    4-link run at 100-103 exceeds it (flagged), and 396<->397 is a
    true 2-cycle (flagged). Oracle unrolls every hop."""
    from cola_spark.operators.dedup import resolve_redirects

    u = spark.range(400).select(
        F.col("id").alias("i"),
        F.concat(
            F.lit("http://h"),
            F.pmod("id", F.lit(20)).cast("string"),
            F.lit(".example.com/p"),
            F.col("id").cast("string"),
        ).alias("url"),
    )
    a, b = u.alias("a"), u.alias("b")
    chain = (
        a.join(b, F.col("b.i") == F.col("a.i") + 1)
        .filter(
            (F.col("a.i") % 8 < 3)
            | F.col("a.i").isin(100, 101, 102, 103)
        )
        .select(F.col("a.url").alias("src"), F.col("b.url").alias("dst"))
    )
    cyc = (
        a.join(b, (F.col("a.i") == 396) & (F.col("b.i") == 397))
        .select(F.col("a.url").alias("src"), F.col("b.url").alias("dst"))
        .unionByName(
            a.join(b, (F.col("a.i") == 397) & (F.col("b.i") == 396)).select(
                F.col("a.url").alias("src"), F.col("b.url").alias("dst")
            )
        )
    )
    return resolve_redirects(
        u.select("url"), chain.unionByName(cyc), max_hops=3
    )


SQL_REDIRECT_RESOLVE = """
WITH p AS (SELECT CAST(i AS BIGINT) AS i
           FROM UNNEST(generate_series(0, 399)) AS t(i)),
u AS (SELECT i, 'http://h' || CAST(i % 20 AS VARCHAR) || '.example.com/p'
             || CAST(i AS VARCHAR) AS url
      FROM p),
e AS (
  SELECT a.url AS src, b.url AS dst
  FROM u a JOIN u b ON b.i = a.i + 1
  WHERE a.i % 8 < 3 OR a.i IN (100, 101, 102, 103)
  UNION ALL
  SELECT a.url, b.url FROM u a, u b WHERE a.i = 396 AND b.i = 397
  UNION ALL
  SELECT a.url, b.url FROM u a, u b WHERE a.i = 397 AND b.i = 396),
h0 AS (SELECT url, url AS final_url, CAST(0 AS BIGINT) AS hops FROM u),
h1 AS (SELECT h.url, COALESCE(e.dst, h.final_url) AS final_url,
              h.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS hops
       FROM h0 h LEFT JOIN e ON h.final_url = e.src),
h2 AS (SELECT h.url, COALESCE(e.dst, h.final_url) AS final_url,
              h.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS hops
       FROM h1 h LEFT JOIN e ON h.final_url = e.src),
h3 AS (SELECT h.url, COALESCE(e.dst, h.final_url) AS final_url,
              h.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS hops
       FROM h2 h LEFT JOIN e ON h.final_url = e.src)
SELECT h.url, h.final_url, CAST(h.hops AS BIGINT) AS hops,
       e.src IS NOT NULL AS is_cycle
FROM h3 h LEFT JOIN e ON h.final_url = e.src
"""

PAIRS.update(
    {"redirect_resolve": (q_redirect_resolve, SQL_REDIRECT_RESOLVE)}
)


# ------------------------------------ URL template census (round 5)


def q_url_template_census(spark, sf):
    """URL template mining (SURVEY §2 row 9's learning twin): paths
    generalized by collapsing numeric segments to {n} (one
    regexp_replace, pure map-side), then a (host, template) census —
    the signal crawlers use to spot parameterized page families
    (/product/{n} with 10^6 instances = one template to budget, or a
    calendar trap to cap). Uses the frontier URL recipe, so templates
    and their instance counts are fully deterministic; per-template
    n_urls + n_hosts out. The census is the same agg shape as
    counter_rollup — combinable, skew-bounded by template count."""
    li = _t(spark, sf, "lineitem")
    r = F.pmod("l_orderkey", F.lit(3))
    path = (
        F.when(
            r == 0,
            F.concat(
                F.lit("/cat/"),
                F.pmod("l_orderkey", F.lit(7)).cast("string"),
                F.lit("/item/"),
                F.col("l_orderkey").cast("string"),
                F.lit("/v"),
                F.col("l_linenumber").cast("string"),
            ),
        )
        .when(
            r == 1,
            F.concat(
                F.lit("/blog/"),
                F.col("l_orderkey").cast("string"),
                F.lit("/comments"),
            ),
        )
        .otherwise(
            F.element_at(
                F.array(
                    F.lit("/static/about"),
                    F.lit("/static/contact"),
                    F.lit("/static/terms"),
                ),
                (F.pmod("l_linenumber", F.lit(3)) + 1).cast("int"),
            )
        )
    )
    host = F.concat(
        F.lit("h"),
        F.pmod("l_orderkey", F.lit(97)).cast("string"),
        F.lit(".example.com"),
    )
    base = li.select(host.alias("host"), path.alias("path"))
    tpl = F.regexp_replace("path", "[0-9]+", "{n}")
    return (
        base.select("host", tpl.alias("template"))
        .groupBy("template")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
    )


SQL_URL_TEMPLATE_CENSUS = """
WITH b AS (
  SELECT 'h' || CAST(l_orderkey % 97 AS VARCHAR) || '.example.com' AS host,
         CASE l_orderkey % 3
           WHEN 0 THEN '/cat/' || CAST(l_orderkey % 7 AS VARCHAR)
             || '/item/' || CAST(l_orderkey AS VARCHAR) || '/v'
             || CAST(l_linenumber AS VARCHAR)
           WHEN 1 THEN '/blog/' || CAST(l_orderkey AS VARCHAR)
             || '/comments'
           ELSE CASE l_linenumber % 3
             WHEN 0 THEN '/static/about'
             WHEN 1 THEN '/static/contact'
             ELSE '/static/terms' END
         END AS path
  FROM lineitem)
SELECT regexp_replace(path, '[0-9]+', '{n}', 'g') AS template,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
FROM b
GROUP BY 1
"""

PAIRS.update(
    {"url_template_census": (q_url_template_census, SQL_URL_TEMPLATE_CENSUS)}
)


# ------------------------------------ magic-byte sniffing (round 5)


def q_magic_sniff_gate(spark, sf):
    """Content-type-lie gate (multimodal.sniff_format): the raw binary
    payload's magic bytes decide the real container format; every 5th
    image's DECLARED format is planted wrong (rotated), and the gate
    emits (declared_fmt, sniffed_fmt, mismatch) — the pre-decode check
    that keeps a mislabeled payload from reaching the wrong codec.
    Bytes are planted cross-engine (unhex of magic || md5 body), so
    the binary column itself — not a stand-in — is what DuckDB
    replays: this is the first D-oracled query over the bytes axis
    (the codec ops are exact-LOCAL-oracled by necessity; a pure
    byte-slice gate needs no decoder). webp exercises the two-probe
    RIFF rule; nulls/short bodies excluded by construction."""
    from cola_spark.operators.multimodal import sniff_format

    fmts = F.array(
        F.lit("png"), F.lit("jpeg"), F.lit("gif"), F.lit("webp")
    )
    magics = F.array(
        F.lit("89504E47"),
        F.lit("FFD8FF"),
        F.lit("47494638"),
        F.lit("524946460000000057454250"),
    )
    base = spark.range(500).select(
        F.col("id").alias("image_id"),
        F.pmod(
            _md5_col(F.concat(F.lit("fmt:"), F.col("id").cast("string"))),
            F.lit(4),
        ).alias("f"),
        F.pmod(
            _md5_col(F.concat(F.lit("lie:"), F.col("id").cast("string"))),
            F.lit(5),
        ).alias("lie"),
        F.upper(
            F.substring(
                F.md5(F.concat(F.lit("body:"), F.col("id").cast("string"))),
                1,
                14,
            )
        ).alias("bodyhex"),
    )
    declared = F.element_at(
        fmts,
        (
            F.when(F.col("lie") == 0, F.pmod(F.col("f") + 1, F.lit(4)))
            .otherwise(F.col("f"))
            + 1
        ).cast("int"),
    )
    by = F.unhex(
        F.concat(
            F.element_at(magics, (F.col("f") + 1).cast("int")), F.col("bodyhex")
        )
    )
    img = base.select(
        "image_id", declared.alias("declared_fmt"), by.alias("bytes")
    )
    sniffed = sniff_format(img)
    return img.select(
        "image_id",
        "declared_fmt",
        sniffed.alias("sniffed_fmt"),
        (F.col("declared_fmt") != sniffed).alias("mismatch"),
    )


SQL_MAGIC_SNIFF = """
WITH base AS (
  SELECT CAST(i AS BIGINT) AS image_id,
         CAST(('0x' || substr(md5('fmt:' || CAST(i AS VARCHAR)), 1, 15))
           AS BIGINT) % 4 AS f,
         CAST(('0x' || substr(md5('lie:' || CAST(i AS VARCHAR)), 1, 15))
           AS BIGINT) % 5 AS lie,
         upper(substr(md5('body:' || CAST(i AS VARCHAR)), 1, 14)) AS bodyhex
  FROM UNNEST(generate_series(0, 499)) AS t(i)),
img AS (
  SELECT image_id,
         ['png', 'jpeg', 'gif', 'webp'][
           CAST(CASE WHEN lie = 0 THEN (f + 1) % 4 ELSE f END AS INTEGER) + 1]
           AS declared_fmt,
         unhex((['89504E47', 'FFD8FF', '47494638',
                 '524946460000000057454250'][CAST(f AS INTEGER) + 1])
               || bodyhex) AS b
  FROM base),
sn AS (
  SELECT image_id, declared_fmt,
         CASE WHEN substr(hex(b), 1, 8) = '89504E47' THEN 'png'
              WHEN substr(hex(b), 1, 6) = 'FFD8FF' THEN 'jpeg'
              WHEN substr(hex(b), 1, 8) = '47494638' THEN 'gif'
              WHEN substr(hex(b), 1, 8) = '52494646'
                   AND substr(hex(b), 17, 8) = '57454250' THEN 'webp'
              ELSE 'unknown' END AS sniffed_fmt
  FROM img)
SELECT image_id, declared_fmt, sniffed_fmt,
       declared_fmt <> sniffed_fmt AS mismatch
FROM sn
"""

PAIRS.update({"magic_sniff_gate": (q_magic_sniff_gate, SQL_MAGIC_SNIFF)})


# ---------------------------- classifier evaluation table (round 5)


def q_quality_lr_confusion(spark, sf):
    """Model evaluation as a first-class pipeline op: the trained
    quality classifier's confusion matrix + integer precision/recall/
    accuracy against the planted labels — the eval artifact every
    production filter ships with (a trainer-corpus gate is only as
    good as its measured PR). Composes docs_quality_lr (training
    in-query), so the oracle nests the ENTIRE 8-epoch GD replay: a
    wrong gradient anywhere shifts a decision and hash-fails the
    single summary row."""
    s = q_docs_quality_lr(spark, sf)
    pos = F.pmod("doc_id", F.lit(3)) != 1
    j = s.select(
        "keep", pos.alias("pos")
    )
    agg = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("keep") & F.col("pos")).cast("int"))
        .cast("long")
        .alias("tp"),
        F.sum((F.col("keep") & ~F.col("pos")).cast("int"))
        .cast("long")
        .alias("fp"),
        F.sum((~F.col("keep") & F.col("pos")).cast("int"))
        .cast("long")
        .alias("fn"),
        F.sum((~F.col("keep") & ~F.col("pos")).cast("int"))
        .cast("long")
        .alias("tn"),
    )
    return agg.select(
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("tp * 1000 div (tp + fp)").cast("long")
        .alias("precision_permille"),
        F.expr("tp * 1000 div (tp + fn)").cast("long")
        .alias("recall_permille"),
        F.expr("(tp + tn) * 1000 div n").cast("long")
        .alias("accuracy_permille"),
    )


SQL_QUALITY_LR_CONFUSION = f"""
WITH s AS ({SQL_QUALITY_LR}),
j AS (SELECT keep, (doc_id % 3 <> 1) AS pos FROM s),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN keep AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN keep AND NOT pos THEN 1 ELSE 0 END) AS BIGINT)
          AS fp,
        CAST(SUM(CASE WHEN NOT keep AND pos THEN 1 ELSE 0 END) AS BIGINT)
          AS fn,
        CAST(SUM(CASE WHEN NOT keep AND NOT pos THEN 1 ELSE 0 END)
          AS BIGINT) AS tn
      FROM j)
SELECT n, tp, fp, fn, tn,
       CAST(tp * 1000 // (tp + fp) AS BIGINT) AS precision_permille,
       CAST(tp * 1000 // (tp + fn) AS BIGINT) AS recall_permille,
       CAST((tp + tn) * 1000 // n AS BIGINT) AS accuracy_permille
FROM a
"""

PAIRS.update(
    {"quality_lr_confusion": (q_quality_lr_confusion, SQL_QUALITY_LR_CONFUSION)}
)


# ------------------------------------ ANN recall report (round 5)


def q_ann_recall_report(spark, sf):
    """Index-quality evaluation as a first-class op (the ANN twin of
    quality_lr_confusion): per-query recall@5 of the trained-geometry
    IVF+PQ serving path against the exact brute-force ranking —
    DRIVER-VERIFIED recall, not just a test-floor assertion. The
    oracle nests BOTH member CTE chains (codebook construction, cell
    pruning, ADC ranking on one side; exact cosine ranking on the
    other), so a quantizer or pruning drift shifts a hit count and
    hash-fails."""
    iv = q_ann_ivfpq_topk(spark, sf).select("query_id", "neighbor_id")
    br = q_ann_cosine_topk(spark, sf).select("query_id", "neighbor_id")
    qs = br.select("query_id").distinct()
    hits = (
        br.join(iv.hint("shuffle_hash"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    return (
        qs.join(hits.hint("shuffle_hash"), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.expr("coalesce(hits, 0) * 1000 div 5")
            .cast("long")
            .alias("recall_permille"),
        )
    )


SQL_ANN_RECALL_REPORT = f"""
WITH iv AS ({SQL_ANN_IVFPQ}),
br AS ({SQL_ANN}),
q AS (SELECT DISTINCT query_id FROM br),
h AS (SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS hits
      FROM br b JOIN iv ON iv.query_id = b.query_id
                       AND iv.neighbor_id = b.neighbor_id
      GROUP BY b.query_id)
SELECT q.query_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) * 1000 // 5 AS BIGINT) AS recall_permille
FROM q LEFT JOIN h ON q.query_id = h.query_id
"""

PAIRS.update(
    {"ann_recall_report": (q_ann_recall_report, SQL_ANN_RECALL_REPORT)}
)


# ------------------------------------ Merkle snapshot root (round 5)


def q_merkle_snapshot_tree(spark, sf):
    """Snapshot integrity for the crawl archive
    (chunkstore.merkle_tree): the full Merkle tree over 300 planted
    chunk hashes — two archives (or a primary and its object-store
    replica) verify equality by ONE root and locate divergence with
    O(log n) hash exchanges. 300 is deliberately not a power of two:
    odd tails at levels 75/19/5/3 exercise the lone-node promotion
    rule. Level 0 is the only corpus-scale pass; each higher level is
    one geometrically-shrinking combinable groupBy(idx div 2). The
    oracle unrolls all 9 levels."""
    from cola_spark.operators.chunkstore import merkle_tree

    leaves = spark.range(300).select(
        F.col("id").alias("idx"),
        F.md5(
            F.concat(F.lit("leaf:"), F.col("id").cast("string")).cast(
                "binary"
            )
        ).alias("h"),
    )
    return merkle_tree(leaves, levels=9)


def _sql_merkle(levels: int = 9, n: int = 300) -> str:
    pair = (
        "CASE WHEN MAX(CASE WHEN idx % 2 = 1 THEN h END) IS NULL"
        " THEN MAX(CASE WHEN idx % 2 = 0 THEN h END)"
        " ELSE md5(MAX(CASE WHEN idx % 2 = 0 THEN h END)"
        " || MAX(CASE WHEN idx % 2 = 1 THEN h END)) END"
    )
    ctes = [
        f"l0 AS (SELECT CAST(i AS BIGINT) AS idx,"
        f" md5('leaf:' || CAST(i AS VARCHAR)) AS h"
        f" FROM UNNEST(generate_series(0, {n - 1})) AS t(i))"
    ]
    for lv in range(1, levels + 1):
        ctes.append(
            f"l{lv} AS (SELECT idx // 2 AS idx, {pair} AS h"
            f" FROM l{lv-1} GROUP BY idx // 2)"
        )
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({lv} AS BIGINT) AS level, idx, h FROM l{lv}"
        for lv in range(0, levels + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


SQL_MERKLE_SNAPSHOT_TREE = _sql_merkle()

PAIRS.update(
    {"merkle_snapshot_tree": (q_merkle_snapshot_tree, SQL_MERKLE_SNAPSHOT_TREE)}
)


# ----------------------------- sitemap lastmod refetch (round 5)


def q_sitemap_lastmod_refetch(spark, sf):
    """Freshness-driven re-crawl via the sitemap protocol's <lastmod>
    (the discovery half is sitemap_seed_expand; this is the RE-crawl
    half): per-host sitemap XML carries (loc, lastmod) PAIRS — parsed
    with two regexp_extract_all + positional zip (the BPE
    generate-series indexing pattern, no Python) — joined against the
    seen store's per-page fetch day; refetch iff lastmod is newer.
    Complements adaptive_recrawl (which infers change rates when the
    site publishes nothing): when the site DOES publish lastmod, the
    scheduler should believe it. One parse explode + one page-keyed
    join."""
    hosts = spark.range(40)
    h = F.col("id")
    hs = h.cast("string")

    def ent(j: int):
        day = (
            F.pmod(
                _md5_col(F.concat(F.lit("lm:"), hs, F.lit(f"_{j}"))),
                F.lit(28),
            )
            + 1
        ).cast("string")
        return F.concat(
            F.lit("<url><loc>http://h"), hs, F.lit(".example.com/p"),
            F.lit(str(j)), F.lit("</loc><lastmod>2024-01-"), day,
            F.lit("</lastmod></url>"),
        )

    sm = hosts.select(
        "id",
        F.concat(
            F.lit("<urlset>"), ent(0), ent(1), ent(2), ent(3),
            F.lit("</urlset>"),
        ).alias("xml"),
    )
    parsed = sm.select(
        "id",
        F.regexp_extract_all(
            "xml", F.lit(r"<loc>([^<]+)</loc>"), F.lit(1)
        ).alias("locs"),
        F.regexp_extract_all(
            "xml", F.lit(r"<lastmod>2024-01-([0-9]+)</lastmod>"), F.lit(1)
        ).alias("days"),
    )
    pairs = parsed.select(
        "id",
        F.explode(
            F.sequence(F.lit(1), F.size("locs"))
        ).alias("i"),
        "locs",
        "days",
    ).select(
        F.element_at("locs", F.col("i")).alias("url"),
        F.element_at("days", F.col("i")).cast("long").alias("lastmod_day"),
    )
    # seen store: every page was fetched on a planted day
    fetched = pairs.select(
        "url",
        (
            F.pmod(_md5_col(F.concat(F.lit("fd:"), F.col("url"))), F.lit(28))
            + 1
        ).cast("long").alias("fetched_day"),
    )
    return (
        pairs.join(fetched.hint("shuffle_hash"), "url")
        .select(
            "url",
            "lastmod_day",
            "fetched_day",
            (F.col("lastmod_day") > F.col("fetched_day")).alias("refetch"),
        )
    )


SQL_SITEMAP_LASTMOD = """
WITH hosts AS (SELECT CAST(i AS BIGINT) AS h
               FROM UNNEST(generate_series(0, 39)) AS t(i)),
pg AS (SELECT h, CAST(j AS BIGINT) AS j,
        'http://h' || CAST(h AS VARCHAR) || '.example.com/p'
          || CAST(j AS VARCHAR) AS url,
        CAST(('0x' || substr(md5('lm:' || CAST(h AS VARCHAR) || '_'
          || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 28 + 1
          AS lastmod_day
       FROM hosts, UNNEST(generate_series(0, 3)) AS t(j)),
fd AS (SELECT url, lastmod_day,
        CAST(('0x' || substr(md5('fd:' || url), 1, 15)) AS BIGINT) % 28 + 1
          AS fetched_day
       FROM pg)
SELECT url, CAST(lastmod_day AS BIGINT) AS lastmod_day,
       CAST(fetched_day AS BIGINT) AS fetched_day,
       lastmod_day > fetched_day AS refetch
FROM fd
"""

PAIRS.update(
    {
        "sitemap_lastmod_refetch": (
            q_sitemap_lastmod_refetch,
            SQL_SITEMAP_LASTMOD,
        )
    }
)


# ------------------------- registrable-domain budget cut (round 5)


def q_registrable_budget_cut(spark, sf):
    """The composition registrable_domain exists FOR: the per-host
    budget cut re-keyed on the REGISTRABLE domain, so a registrant's
    subdomain family (www./a.b./bare) shares ONE politeness budget —
    k subdomain queues can no longer multiply a site's fetch rate.
    Reuses the registrable universe (5-suffix mix incl. the private
    registry and the `*`-default TLD); FIFO top-3 per registrable by
    canonical URL order. Oracle nests the full PSL longest-match
    chain."""
    from cola_spark.operators.domains import registrable_domain

    li = _t(spark, sf, "lineitem")
    site = F.pmod(F.col("l_orderkey"), F.lit(200))
    sub_i = F.pmod(
        _md5_col(
            F.concat(
                F.lit("sub:"),
                F.col("l_orderkey").cast("string"),
                F.lit("_"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        F.lit(3),
    )
    sfx_i = F.pmod(
        _md5_col(F.concat(F.lit("sfx:"), site.cast("string"))), F.lit(5)
    )
    host = F.concat(
        F.element_at(F.array(F.lit(""), F.lit("www."), F.lit("a.b.")),
                     (sub_i + 1).cast("int")),
        F.lit("site"),
        site.cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("co.uk"), F.lit("github.io"),
                    F.lit("ac.uk"), F.lit("zz")),
            (sfx_i + 1).cast("int"),
        ),
    )
    urls = li.select(
        host.alias("host"),
        F.concat(
            F.lit("http://"), host, F.lit("/o"),
            F.col("l_orderkey").cast("string"), F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ).alias("url"),
    )
    rd = registrable_domain(urls).select("host", "registrable")
    w = Window.partitionBy("registrable").orderBy("url")
    return (
        urls.join(rd.hint("shuffle_hash"), "host")
        .select("registrable", "url", F.row_number().over(w).alias("slot"))
        .filter(F.col("slot") <= 3)
        .select("registrable", "url", F.col("slot").cast("long").alias("slot"))
    )


SQL_REGISTRABLE_BUDGET_CUT = """
WITH raw AS (
  SELECT l_orderkey AS o, l_linenumber AS ln, l_orderkey % 200 AS site,
         CAST(('0x' || substr(md5('sub:' || CAST(l_orderkey AS VARCHAR)
              || '_' || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)
           % 3 AS sub_i
  FROM lineitem),
h AS (
  SELECT o, ln,
         CASE sub_i WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'a.b.' END
         || 'site' || CAST(site AS VARCHAR) || '.'
         || CASE CAST(('0x' || substr(md5('sfx:' || CAST(site AS VARCHAR)),
                       1, 15)) AS BIGINT) % 5
              WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' WHEN 2 THEN 'github.io'
              WHEN 3 THEN 'ac.uk' ELSE 'zz' END AS host
  FROM raw),
u AS (SELECT host, 'http://' || host || '/o' || CAST(o AS VARCHAR) || '_'
             || CAST(ln AS VARCHAR) AS url
      FROM h),
hs AS (SELECT DISTINCT host FROM u),
lb AS (SELECT host, string_split(host, '.') AS l,
              len(string_split(host, '.')) AS n
       FROM hs),
sufs(suffix) AS (VALUES ('com'), ('org'), ('net'), ('io'), ('uk'),
                        ('co.uk'), ('ac.uk'), ('github.io')),
cand AS (
  SELECT host, k, array_to_string(list_slice(l, n - k + 1, n), '.') AS cand
  FROM lb, UNNEST(generate_series(1, 3)) AS t(k)
  WHERE n >= k),
m AS (SELECT c.host, MAX(c.k) AS mk
      FROM cand c JOIN sufs s ON c.cand = s.suffix
      GROUP BY c.host),
reg AS (
  SELECT lb.host,
         lb.l[lb.n - COALESCE(m.mk, 1)] || '.' ||
         CASE WHEN m.mk IS NOT NULL
              THEN array_to_string(list_slice(lb.l, lb.n - m.mk + 1, lb.n),
                                   '.')
              ELSE lb.l[lb.n] END AS registrable
  FROM lb LEFT JOIN m ON lb.host = m.host),
rk AS (
  SELECT r.registrable, u.url,
         CAST(ROW_NUMBER() OVER (PARTITION BY r.registrable
                                 ORDER BY u.url) AS BIGINT) AS slot
  FROM u JOIN reg r ON u.host = r.host)
SELECT registrable, url, slot FROM rk WHERE slot <= 3
"""

PAIRS.update(
    {
        "registrable_budget_cut": (
            q_registrable_budget_cut,
            SQL_REGISTRABLE_BUDGET_CUT,
        )
    }
)


# ------------------------------- dedup telemetry + drift (round 5)


def q_dedup_rate_report(spark, sf):
    """Dedup telemetry per source stratum — the monitoring row every
    corpus build ships beside the dedup itself: per lang, docs vs
    distinct fingerprints, duplicates, and the integer dup rate. One
    two-level aggregation (fingerprint census inside lang), no joins."""
    d = _t(spark, sf, "documents").select(
        "lang", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("fp").cast("long").alias("n_distinct"),
        )
        .select(
            "lang",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dups"),
            F.expr("(n_docs - n_distinct) * 1000 div n_docs")
            .cast("long")
            .alias("dup_permille"),
        )
    )


SQL_DEDUP_RATE_REPORT = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups,
       CAST((COUNT(*) - COUNT(DISTINCT md5(text))) * 1000 // COUNT(*)
         AS BIGINT) AS dup_permille
FROM documents
GROUP BY lang
"""


def q_vocab_drift_report(spark, sf):
    """Corpus-drift monitoring: unigram distributions of two crawl
    snapshots (even vs odd doc_ids) compared token-by-token with the
    cross-multiplied integer rate difference |ca·Nb − cb·Na| — zero
    floats, so rank-stable cross-engine. The detector a continuous
    corpus pipeline runs between rounds to catch a scraper regression
    or a source-mix shift before it trains. One token explode + two
    combinable aggs."""
    d = _t(spark, sf, "documents").select(
        (F.pmod("doc_id", F.lit(2)) == 0).alias("in_a"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
    )
    per = d.groupBy("token").agg(
        F.sum(F.col("in_a").cast("int")).cast("long").alias("ca"),
        F.sum((~F.col("in_a")).cast("int")).cast("long").alias("cb"),
    )
    tot = d.agg(
        F.sum(F.col("in_a").cast("int")).cast("long").alias("na"),
        F.sum((~F.col("in_a")).cast("int")).cast("long").alias("nb"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "token",
        "ca",
        "cb",
        F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
        .cast("long")
        .alias("drift"),
    )


SQL_VOCAB_DRIFT_REPORT = r"""
WITH t AS (
  SELECT (doc_id % 2 = 0) AS in_a,
         UNNEST(string_split_regex(trim(text), '\s+')) AS token
  FROM documents),
per AS (SELECT token,
         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM t GROUP BY token),
tot AS (SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
        FROM t)
SELECT token, ca, cb,
       CAST(abs(ca * nb - cb * na) AS BIGINT) AS drift
FROM per, tot
"""

PAIRS.update(
    {
        "dedup_rate_report": (q_dedup_rate_report, SQL_DEDUP_RATE_REPORT),
        "vocab_drift_report": (q_vocab_drift_report, SQL_VOCAB_DRIFT_REPORT),
    }
)


# ------------------------------ robots sitemap discovery (round 5)


def q_robots_sitemap_discovery(spark, sf):
    """Sitemap discovery via robots.txt (robots.parse_robots_sitemaps)
    — the standard entry point that chains into sitemap_seed_expand /
    sitemap_lastmod_refetch. Per RFC 9309 the Sitemap: directive is
    GLOBAL: the planted universe puts one directive BEFORE any
    user-agent group and (on even hosts) one INSIDE a group, and both
    must surface — the globality contrast with rules/crawl-delay is
    the semantics under test."""
    from cola_spark.operators.robots import parse_robots_sitemaps

    h = F.col("id")
    hs = h.cast("string")
    txt = F.concat(
        F.lit("Sitemap: http://h"), hs, F.lit(".example.com/sitemap.xml"),
        F.lit("\nUser-agent: *\nDisallow: /x"),
        F.when(
            F.pmod(h, F.lit(2)) == 0,
            F.concat(
                F.lit("\nSitemap: https://h"), hs,
                F.lit(".example.com/sm2.xml"),
            ),
        ).otherwise(F.lit("")),
    )
    rb = spark.range(30).select(
        F.concat(F.lit("h"), hs, F.lit(".example.com")).alias("host"),
        txt.alias("txt"),
    )
    return parse_robots_sitemaps(rb)


SQL_ROBOTS_SITEMAP_DISCOVERY = """
WITH hosts AS (SELECT CAST(i AS BIGINT) AS h
               FROM UNNEST(generate_series(0, 29)) AS t(i))
SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
       'http://h' || CAST(h AS VARCHAR) || '.example.com/sitemap.xml'
         AS sitemap_url
FROM hosts
UNION ALL
SELECT 'h' || CAST(h AS VARCHAR) || '.example.com',
       'https://h' || CAST(h AS VARCHAR) || '.example.com/sm2.xml'
FROM hosts WHERE h % 2 = 0
"""

PAIRS.update(
    {
        "robots_sitemap_discovery": (
            q_robots_sitemap_discovery,
            SQL_ROBOTS_SITEMAP_DISCOVERY,
        )
    }
)


# ------------------------------- water-filling budget (round 5)


def q_waterfill_budget(spark, sf):
    """Max-min fair division of a global fetch capacity across hosts
    (budget.waterfill_alloc): small demands fully granted, the rest
    capped at a common integer water level with a deterministic
    host-order remainder rule — cola's fixed per-unit allotment
    upgraded to the allocation a shared-capacity cluster actually
    needs (no host can starve the pool). 60 hosts, md5 demands in
    [0,50), capacity 600 — the grant set, the level, and the +1
    remainder hosts are all live. The oracle replays rank → prefix →
    monotone grant predicate → level/remainder arithmetic exactly."""
    from cola_spark.operators.budget import waterfill_alloc

    d = spark.range(60).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.pmod(
            _md5_col(F.concat(F.lit("dm:"), F.col("id").cast("string"))),
            F.lit(50),
        ).alias("demand"),
    )
    return waterfill_alloc(d, capacity=600)


SQL_WATERFILL_BUDGET = """
WITH d AS (
  SELECT 'h' || CAST(i AS VARCHAR) AS host,
         CAST(('0x' || substr(md5('dm:' || CAST(i AS VARCHAR)), 1, 15))
           AS BIGINT) % 50 AS demand
  FROM UNNEST(generate_series(0, 59)) AS t(i)),
r AS (SELECT host, demand,
             CAST(ROW_NUMBER() OVER (ORDER BY demand, host) AS BIGINT) AS r
      FROM d),
p AS (SELECT host, demand, r,
             CAST(SUM(demand) OVER (ORDER BY r
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS prefix,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n
      FROM r),
f AS (SELECT *, demand * (n - r + 1) <= 600 - (prefix - demand) AS enough
      FROM p),
ks AS (SELECT CAST(SUM(CASE WHEN enough THEN 1 ELSE 0 END) AS BIGINT) AS k,
              CAST(COALESCE(MAX(CASE WHEN enough THEN prefix END), 0)
                AS BIGINT) AS prefix_k
       FROM f),
o AS (SELECT f.host, f.demand, f.enough, f.n, ks.k, ks.prefix_k,
             CASE WHEN f.n > ks.k
                  THEN (600 - ks.prefix_k) // (f.n - ks.k) ELSE 0 END AS l,
             CASE WHEN f.n > ks.k
                  THEN (600 - ks.prefix_k) % (f.n - ks.k) ELSE 0 END AS rem,
             ROW_NUMBER() OVER (PARTITION BY f.enough ORDER BY f.host)
               AS ci
      FROM f, ks)
SELECT host, CAST(demand AS BIGINT) AS demand,
       CAST(CASE WHEN enough THEN demand
            ELSE l + CASE WHEN ci <= rem THEN 1 ELSE 0 END END AS BIGINT)
         AS alloc,
       NOT enough AS capped
FROM o
"""

PAIRS.update({"waterfill_budget": (q_waterfill_budget, SQL_WATERFILL_BUDGET)})


# ------------------------------------ phrase search (round 5)


def q_phrase_search_positions(spark, sf):
    """Positional phrase retrieval — the search-side consumer of a
    crawled corpus: token positions from one posexplode (the
    positional inverted-index long form), adjacency by lead() over the
    doc-keyed window (the relational-shingle pattern at n=2), the
    target phrase chosen data-derivedly as the corpus's most frequent
    bigram (1-row broadcast argmax, BPE round-1's rule incl. the
    lexical tie-break), then every occurrence listed. Output:
    (doc_id, pos, w1, w2). All windows doc-keyed; the argmax is
    vocab-scale."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        "doc_id",
        "pos",
        F.col("w").alias("w1"),
        F.lead("w").over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    top = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "w1", "w2")
        .limit(1)
    )
    return (
        bi.join(F.broadcast(top.select("w1", "w2")), ["w1", "w2"])
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "w1", "w2")
    )


SQL_PHRASE_SEARCH = r"""
WITH toks AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS w
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        FROM documents),
       UNNEST(generate_series(1, len(ws))) AS t(i)),
bi AS (
  SELECT doc_id, pos, w AS w1,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks),
bi2 AS (SELECT * FROM bi WHERE w2 IS NOT NULL),
top AS (SELECT w1, w2 FROM (
          SELECT w1, w2, COUNT(*) AS cnt FROM bi2 GROUP BY w1, w2)
        ORDER BY cnt DESC, w1, w2 LIMIT 1)
SELECT b.doc_id, b.pos, b.w1, b.w2
FROM bi2 b JOIN top t ON b.w1 = t.w1 AND b.w2 = t.w2
"""

PAIRS.update(
    {"phrase_search_positions": (q_phrase_search_positions, SQL_PHRASE_SEARCH)}
)


# ---------------------------- multi-round crawl oracle (round 5)


def q_crawl_rounds_oracled(spark, sf):
    """THE core loop, driver-oracled across MULTIPLE rounds:
    flagship_oneround extended to 3 unrolled scheduler rounds with the
    full round semantics — batch dedup (first seq per page), seen-set
    admission (anti-join against every previously ADMITTED page, the
    over-cap-rows-stay-schedulable rule), robots gate, per-host
    priority-FIFO budget cut (3/host/round — small on purpose so
    pending carry-over is live every round), deterministic child
    DISCOVERY from each scheduled page (page*7+k mod 30, inherited
    rotated priority, seq*10+k). Mirrors plans/scheduler.run_crawl /
    ForeachBatchCrawler semantics (those are separately pinned by
    tests/oracle.py's sequential replay and the streaming tests); the
    oracle unrolls all three rounds as CTEs, so a wrong admission,
    a lost pending row, or a budget off-by-one anywhere hash-fails.
    Orders are totally keyed (priority, seq, page) — seed seqs and
    synthesized child seqs may collide, pages cannot."""
    o = _t(spark, sf, "orders")
    fr = o.select(
        F.format_string("c%03d", F.pmod(F.col("o_custkey"), F.lit(40))).alias(
            "host"
        ),
        F.pmod("o_orderkey", F.lit(30)).alias("page"),
        (
            (F.substring("o_orderpriority", 1, 1).cast("int") - 1) % 3
        ).alias("priority"),
        F.col("o_orderkey").alias("seq"),
    )
    w_dup = Window.partitionBy("host", "page").orderBy("seq")
    seeds = (
        fr.filter(F.col("page") < 6)
        .withColumn("_rn", F.row_number().over(w_dup))
        .filter("_rn = 1")
        .drop("_rn")
    )
    blocked = F.col("host").rlike("^c0[0-9]7") & F.col("page").cast(
        "string"
    ).startswith("1")
    w_cut = Window.partitionBy("host").orderBy("priority", "seq", "page")
    seen = None
    pend = None
    out = []
    adm = seeds
    for rnd in (1, 2, 3):
        ok = adm.filter(~blocked)
        pool = ok if pend is None else pend.unionByName(ok)
        ranked = pool.withColumn(
            "host_rank", F.row_number().over(w_cut).cast("long")
        )
        sched = ranked.filter(F.col("host_rank") <= 3).localCheckpoint()
        pend = ranked.filter(F.col("host_rank") > 3).drop("host_rank")
        out.append(
            sched.select(
                F.lit(rnd).cast("long").alias("round"),
                "host", "page", "priority", "seq", "host_rank",
            )
        )
        seen_new = adm.select("host", "page")
        seen = seen_new if seen is None else seen.unionByName(seen_new)
        if rnd < 3:
            ch = (
                sched.select(
                    "host",
                    F.explode(F.sequence(F.lit(1), F.lit(2))).alias("k"),
                    "page", "priority", "seq",
                )
                .select(
                    "host",
                    F.pmod(F.col("page") * 7 + F.col("k"), F.lit(30)).alias(
                        "page"
                    ),
                    F.pmod(F.col("priority") + 1, F.lit(3)).alias("priority"),
                    (F.col("seq") * 10 + F.col("k")).alias("seq"),
                )
                .withColumn("_rn", F.row_number().over(w_dup))
                .filter("_rn = 1")
                .drop("_rn")
            )
            adm = ch.join(seen.hint("shuffle_hash"), ["host", "page"],
                          "left_anti")
    u = out[0]
    for f in out[1:]:
        u = u.unionByName(f)
    return u


def _sql_crawl_rounds(rounds: int = 3, cap: int = 3) -> str:
    blocked = (
        "(regexp_matches(host, '^c0[0-9]7')"
        " AND CAST(page AS VARCHAR) LIKE '1%')"
    )
    ctes = [
        """fr AS (
  SELECT printf('c%03d', o_custkey % 40) AS host,
         o_orderkey % 30 AS page,
         (CAST(substr(o_orderpriority, 1, 1) AS INT) - 1) % 3 AS priority,
         o_orderkey AS seq
  FROM orders)""",
        """adm1 AS (
  SELECT host, page, priority, seq FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY host, page ORDER BY seq) AS rn
    FROM fr WHERE page < 6) WHERE rn = 1)""",
        "seen1 AS (SELECT host, page FROM adm1)",
        f"pool1 AS (SELECT * FROM adm1 WHERE NOT {blocked})",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""rk{r} AS (
  SELECT host, page, priority, seq,
         CAST(ROW_NUMBER() OVER (PARTITION BY host
              ORDER BY priority, seq, page) AS BIGINT) AS host_rank
  FROM pool{r})"""
        )
        ctes.append(
            f"sch{r} AS (SELECT * FROM rk{r} WHERE host_rank <= {cap})"
        )
        if r < rounds:
            ctes += [
                f"""pend{r} AS (SELECT host, page, priority, seq
  FROM rk{r} WHERE host_rank > {cap})""",
                f"""ch{r + 1} AS (
  SELECT host, page, priority, seq FROM (
    SELECT host, (page * 7 + k) % 30 AS page,
           (priority + 1) % 3 AS priority, seq * 10 + k AS seq,
           ROW_NUMBER() OVER (PARTITION BY host, (page * 7 + k) % 30
                              ORDER BY seq * 10 + k) AS rn
    FROM sch{r}, UNNEST(generate_series(1, 2)) AS t(k)) WHERE rn = 1)""",
                f"""adm{r + 1} AS (
  SELECT c.host, c.page, c.priority, c.seq FROM ch{r + 1} c
  WHERE NOT EXISTS (SELECT 1 FROM seen{r} s
                    WHERE s.host = c.host AND s.page = c.page))""",
                f"""seen{r + 1} AS (SELECT host, page FROM seen{r}
  UNION ALL SELECT host, page FROM adm{r + 1})""",
                f"""pool{r + 1} AS (
  SELECT * FROM pend{r}
  UNION ALL
  SELECT host, page, priority, seq FROM adm{r + 1} WHERE NOT {blocked})""",
            ]
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, host, page, priority, seq,"
        f" host_rank FROM sch{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + unions


SQL_CRAWL_ROUNDS = _sql_crawl_rounds()

PAIRS.update(
    {"crawl_rounds_oracled": (q_crawl_rounds_oracled, SQL_CRAWL_ROUNDS)}
)


# --------------------------- keep-best-resolution dedup (round 5)


def q_phash_keep_best_resolution(spark, sf):
    """The LAION keep rule for image near-dup clusters: retain the
    HIGHEST-RESOLUTION copy (max w·h, ties to the smaller doc_id) —
    the third consolidation strategy beside the min-id representative
    and the longest caption. Same planted pHash clusters + md5 w/h
    metadata; the winner is one cluster-keyed combinable
    max(struct(px, -id)) — no per-cluster window. Output: the full
    decision table (doc_id, cluster_id, px, keep)."""
    from cola_spark.operators.clusters import dedup_keep_set

    docs = _t(spark, sf, "documents").select("doc_id")
    h = _md5_col
    px = (
        (F.lit(64) + F.pmod(h(F.concat(F.lit("w:"), F.col("doc_id"))),
                            F.lit(1986)))
        * (F.lit(64) + F.pmod(h(F.concat(F.lit("h:"), F.col("doc_id"))),
                              F.lit(1986)))
    ).cast("long")
    pairs = _planted_phash_pairs(spark, sf)
    ks = dedup_keep_set(pairs, "img_a", "img_b").select(
        "doc_id", "cluster_id"
    )
    allc = docs.join(ks.hint("shuffle_hash"), "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        px.alias("px"),
    )
    best = allc.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("px"), (-F.col("doc_id")).alias("nid"))).alias(
            "_b"
        )
    ).select("cluster_id", (-F.col("_b.nid")).alias("_best_id"))
    return allc.join(best.hint("shuffle_hash"), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "px",
        (F.col("doc_id") == F.col("_best_id")).alias("keep"),
    )


SQL_PHASH_KEEP_BEST_RES = f"""
WITH RECURSIVE {_SQL_PH_CTES},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM ppairs
          UNION SELECT doc_b, doc_a FROM ppairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
cl AS (SELECT src AS doc_id, LEAST(MIN(dst), src) AS cluster_id
       FROM reach GROUP BY src),
m AS (
  SELECT doc_id,
         CAST(({_sql_meta_dim('w')}) * ({_sql_meta_dim('h')}) AS BIGINT)
           AS px
  FROM documents),
allc AS (
  SELECT m.doc_id, COALESCE(cl.cluster_id, m.doc_id) AS cluster_id, m.px
  FROM m LEFT JOIN cl ON m.doc_id = cl.doc_id),
best AS (
  SELECT cluster_id, doc_id AS best_id FROM (
    SELECT cluster_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY px DESC, doc_id) AS rn
    FROM allc) WHERE rn = 1)
SELECT a.doc_id, a.cluster_id, a.px, a.doc_id = b.best_id AS keep
FROM allc a JOIN best b ON a.cluster_id = b.cluster_id
"""

PAIRS.update(
    {
        "phash_keep_best_resolution": (
            q_phash_keep_best_resolution,
            SQL_PHASH_KEEP_BEST_RES,
        )
    }
)


# ------------------------------- LSH recall report (round 5)


def q_lsh_recall_report(spark, sf):
    """The dedup twin of ann_recall_report: MinHash+LSH's verified
    pair list measured against the exact prefix-join Jaccard truth —
    DRIVER-VERIFIED precision (1000 by construction: every emitted
    candidate is exactly verified; the report CONFIRMS it instead of
    asserting it) and recall (what the 16-perm/4-band banding misses).
    One summary row; the oracle nests BOTH full pipelines, so a
    banding or verify drift moves a count and hash-fails. Empty truth
    degenerates to 1000/1000 (documented guard)."""
    exact = q_jaccard_prefix_pairs(spark, sf).select("doc_a", "doc_b")
    lsh = q_minhash_lsh_pairs(spark, sf).select("doc_a", "doc_b")
    common = exact.join(lsh.hint("shuffle_hash"), ["doc_a", "doc_b"])
    ne = exact.agg(F.count("*").cast("long").alias("n_exact"))
    nl = lsh.agg(F.count("*").cast("long").alias("n_lsh"))
    nc = common.agg(F.count("*").cast("long").alias("n_common"))
    return (
        ne.crossJoin(nl)
        .crossJoin(nc)
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.expr(
                "CASE WHEN n_exact = 0 THEN 1000"
                " ELSE n_common * 1000 div n_exact END"
            ).cast("long").alias("recall_permille"),
            F.expr(
                "CASE WHEN n_lsh = 0 THEN 1000"
                " ELSE n_common * 1000 div n_lsh END"
            ).cast("long").alias("precision_permille"),
        )
    )


SQL_LSH_RECALL_REPORT = f"""
WITH ex AS ({SQL_JACCARD}),
ls AS ({SQL_MINHASH}),
co AS (SELECT e.doc_a, e.doc_b FROM ex e
       JOIN ls l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b),
n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ls) AS n_lsh,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM co) AS n_common)
SELECT n_exact, n_lsh, n_common,
       CAST(CASE WHEN n_exact = 0 THEN 1000
            ELSE n_common * 1000 // n_exact END AS BIGINT)
         AS recall_permille,
       CAST(CASE WHEN n_lsh = 0 THEN 1000
            ELSE n_common * 1000 // n_lsh END AS BIGINT)
         AS precision_permille
FROM n
"""

PAIRS.update(
    {"lsh_recall_report": (q_lsh_recall_report, SQL_LSH_RECALL_REPORT)}
)


# ----------------------- training-data selection batch (round 5 late)


def q_dsir_importance_mix(spark, sf):
    """DSIR-style importance resampling (selection.dsir_select): hashed
    word-bigram importance weights against the source='src3' target
    domain, top-quarter kept. Integer-exact scaled-ratio bucket scores
    (selection.py docstring) so the WHOLE pipeline — gram fan-out →
    64-bucket histogram → broadcast re-score → two-phase global rank →
    ceil-division cut — is DuckDB-oracled."""
    from cola_spark.operators.selection import dsir_select

    return dsir_select(
        _t(spark, sf, "documents"), F.col("source") == "src3"
    )


SQL_DSIR = r"""
WITH w AS (SELECT doc_id, source,
                  string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, source, array_to_string(ws[i:i+1], ' ') AS gram
      FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2),
b AS (SELECT doc_id, source,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 64 AS bucket
      FROM g),
hist AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_cnt,
                CAST(SUM(CASE WHEN source = 'src3' THEN 1 ELSE 0 END)
                     AS BIGINT) AS tgt_cnt
         FROM b GROUP BY bucket),
sc AS (SELECT bucket, 1000000 * (tgt_cnt + 1) // (raw_cnt + 1) AS score
       FROM hist),
dw AS (SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
              CAST(SUM(sc.score) AS BIGINT) AS s
       FROM b JOIN sc USING (bucket) GROUP BY b.doc_id),
r AS (SELECT doc_id, n_grams, s // n_grams AS dsir_weight FROM dw),
rk AS (SELECT doc_id, n_grams, dsir_weight,
              ROW_NUMBER() OVER (ORDER BY dsir_weight DESC, doc_id)
                AS sel_rank,
              COUNT(*) OVER () AS tot
       FROM r)
SELECT doc_id, n_grams, dsir_weight, sel_rank,
       sel_rank <= (tot + 3) // 4 AS selected
FROM rk
"""


def q_ccnet_quality_tiers(spark, sf):
    """CCNet-style head/middle/tail trichotomy (selection.quality_tiers)
    over the corpus-statistics quality score (textstats.unigram_quality
    — already oracled standalone as docs_unigram_quality): rank by
    (mean_millilog DESC, doc_id), tier = even-division bucket of the
    rank. Composes two oracled operators; the cut arithmetic is a
    closed form of (rank, total) so both engines agree bit-for-bit."""
    from cola_spark.operators.selection import quality_tiers
    from cola_spark.operators.textstats import unigram_quality

    return quality_tiers(unigram_quality(_t(spark, sf, "documents")))


SQL_CCNET_TIERS = r"""
WITH toks AS (SELECT doc_id,
                     UNNEST(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
vocab AS (SELECT tok, CAST(length(bin(COUNT(*))) - 1 AS BIGINT) AS bucket
          FROM toks GROUP BY tok),
scored AS (SELECT t.doc_id, v.bucket FROM toks t JOIN vocab v USING (tok)),
uq AS (SELECT doc_id,
              CAST((1000 * CAST(SUM(bucket) AS BIGINT)) // COUNT(*)
                   AS BIGINT) AS mean_millilog
       FROM scored GROUP BY doc_id),
rk AS (SELECT doc_id, mean_millilog,
              ROW_NUMBER() OVER (ORDER BY mean_millilog DESC, doc_id)
                AS q_rank,
              COUNT(*) OVER () AS tot
       FROM uq)
SELECT doc_id, mean_millilog, q_rank,
       ((q_rank - 1) * 3) // tot + 1 AS tier,
       CASE WHEN ((q_rank - 1) * 3) // tot + 1 = 1 THEN 'head'
            WHEN ((q_rank - 1) * 3) // tot + 1 = 3 THEN 'tail'
            ELSE 'middle' END AS tier_label
FROM rk
"""


def q_docs_simpson_concentration(spark, sf):
    """Gini–Simpson unigram concentration (selection.
    unigram_concentration): ppm probability that two tokens drawn
    without replacement from the doc are equal — the single-token-spam
    signal docs_repetition's 3-gram score under-weights."""
    from cola_spark.operators.selection import unigram_concentration

    return unigram_concentration(_t(spark, sf, "documents"))


SQL_SIMPSON = r"""
WITH toks AS (SELECT doc_id,
                     UNNEST(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY doc_id, tok),
p AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c * (c - 1)) AS BIGINT) AS coll
      FROM c GROUP BY doc_id)
SELECT doc_id, n_tokens, n_distinct,
       1000000 * coll // (n_tokens * (n_tokens - 1)) AS simpson_ppm
FROM p WHERE n_tokens >= 2
"""


def q_url_blocklist_score(spark, sf):
    """Soft URL blocklist (safety.url_blocklist_score) over a frontier
    synthesized from part names — weighted substring-occurrence scores,
    pre-fetch gate. The plan is scan+project only (terms compile to
    length/replace expressions at plan time)."""
    from cola_spark.operators.safety import url_blocklist_score

    urls = _t(spark, sf, "part").select(
        "p_partkey",
        F.format_string(
            "http://h%02d.parts.shop/%s",
            F.pmod(F.col("p_partkey"), F.lit(50)),
            F.lower(F.regexp_replace(F.col("p_name"), " ", "-")),
        ).alias("url"),
    )
    return url_blocklist_score(urls)


SQL_URL_BLOCKLIST = r"""
WITH u AS (SELECT p_partkey,
                  'http://h' || lpad(CAST(p_partkey % 50 AS VARCHAR), 2, '0')
                  || '.parts.shop/' || lower(replace(p_name, ' ', '-')) AS url
           FROM part),
s AS (SELECT p_partkey, url,
             5 * ((length(url) - length(replace(url, 'hot', ''))) // 3)
           + 3 * ((length(url) - length(replace(url, 'red', ''))) // 3)
           + 2 * ((length(url) - length(replace(url, 'gizmo', ''))) // 5)
           + 1 * ((length(url) - length(replace(url, 'old', ''))) // 3)
             AS block_score
      FROM u)
SELECT p_partkey, url, CAST(block_score AS BIGINT) AS block_score,
       block_score >= 6 AS url_blocked
FROM s
"""


PAIRS.update({
    "dsir_importance_mix": (q_dsir_importance_mix, SQL_DSIR),
    "ccnet_quality_tiers": (q_ccnet_quality_tiers, SQL_CCNET_TIERS),
    "docs_simpson_concentration": (q_docs_simpson_concentration, SQL_SIMPSON),
    "url_blocklist_score": (q_url_blocklist_score, SQL_URL_BLOCKLIST),
})


def q_yield_budget_realloc(spark, sf):
    """Yield-proportional budget reallocation (budget.yield_alloc):
    next-round capacity (1000 units) divided across hosts in exact
    integer largest-remainder proportion to observed discovery yield.
    SUM(granted) == 1000 invariant pinned in tests; host stats
    synthesized from orders (fetched = orders per host, discovered =
    Σ o_orderkey%7 — deterministic, skewed)."""
    from cola_spark.operators.budget import yield_alloc

    stats = (
        _t(spark, sf, "orders")
        .groupBy(F.pmod(F.col("o_custkey"), F.lit(40)).alias("host"))
        .agg(
            F.count("*").alias("fetched"),
            F.sum(F.pmod(F.col("o_orderkey"), F.lit(7))).alias("discovered"),
        )
    )
    return yield_alloc(stats, 1000)


SQL_YIELD_ALLOC = """
WITH s AS (SELECT o_custkey % 40 AS host, CAST(COUNT(*) AS BIGINT) AS fetched,
                  CAST(SUM(o_orderkey % 7) AS BIGINT) AS discovered
           FROM orders GROUP BY 1),
wgt AS (SELECT *, 1 + (1000 * discovered) // fetched AS yield_weight FROM s),
tot AS (SELECT CAST(SUM(yield_weight) AS BIGINT) AS yw FROM wgt),
g AS (SELECT w.*, (1000 * yield_weight) // t.yw AS base,
             (1000 * yield_weight) % t.yw AS rem
      FROM wgt w, tot t),
l AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS leftover FROM g),
r AS (SELECT g.*, ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk FROM g)
SELECT host, fetched, discovered, yield_weight,
       CAST(base + CASE WHEN rk <= (SELECT leftover FROM l)
                        THEN 1 ELSE 0 END AS BIGINT) AS granted
FROM r
"""


def q_route_skew_report(spark, sf):
    """Salted-vs-naive routing skew audit (routing.route_load_report)
    on a deliberately Zipf-headed synthetic frontier (host =
    (k%100)² DIV 100 concentrates density at the low hosts): two rows,
    (strategy, parts_used, max_load, total, skew_permille). The driver
    VERIFIES the imbalance measurement itself; the salted row's lower
    skew is the quantified payoff of the salted repartition the
    scheduler uses."""
    from cola_spark.operators.routing import route_load_report

    host = F.expr("'h' || CAST(((o_orderkey % 100) * (o_orderkey % 100)) DIV 100 AS STRING)")
    frontier = _t(spark, sf, "orders").select(
        host.alias("host"), F.col("o_orderkey").alias("seq")
    )
    return route_load_report(frontier)


SQL_ROUTE_SKEW = """
WITH f AS (SELECT 'h' || CAST(((o_orderkey % 100) * (o_orderkey % 100)) // 100
                             AS VARCHAR) AS host,
                  o_orderkey AS seq
           FROM orders),
n AS (SELECT CAST(('0x' || substr(md5('r:' || host), 1, 15)) AS BIGINT) % 32
             AS p FROM f),
s AS (SELECT CAST(('0x' || substr(md5('r:' || host || ':' ||
                  CAST(seq % 8 AS VARCHAR)), 1, 15)) AS BIGINT) % 32
             AS p FROM f),
ln AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS ld FROM n GROUP BY p),
ls AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS ld FROM s GROUP BY p),
u AS (
  SELECT 'naive' AS strategy, CAST(COUNT(*) AS BIGINT) AS parts_used,
         CAST(MAX(ld) AS BIGINT) AS max_load, CAST(SUM(ld) AS BIGINT) AS total
  FROM ln
  UNION ALL
  SELECT 'salted', CAST(COUNT(*) AS BIGINT), CAST(MAX(ld) AS BIGINT),
         CAST(SUM(ld) AS BIGINT)
  FROM ls)
SELECT strategy, parts_used, max_load, total,
       (1000 * max_load * 32) // total AS skew_permille
FROM u
"""


PAIRS.update({
    "yield_budget_realloc": (q_yield_budget_realloc, SQL_YIELD_ALLOC),
    "route_skew_report": (q_route_skew_report, SQL_ROUTE_SKEW),
})


def q_priority_aging(spark, sf):
    """Starvation-avoidance aging (priority.age_priorities) composed
    into the salted two-phase budget cut: waiting URLs climb one
    priority level per 3 rounds parked, then the same (effective
    priority, seq) FIFO cut serves them — the bounded-bypass guarantee
    strict priority stores lack. The oracle replays aging + a plain
    per-host window cut (two-phase ≡ single-window is separately
    test-pinned)."""
    from cola_spark.operators.priority import age_priorities, schedule_cut

    pending = _t(spark, sf, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(30)).alias("host"),
        ((F.substring(F.col("o_orderpriority"), 1, 1).cast("int") - 1) % 3)
        .alias("priority"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_orderkey").alias("url_hash"),
        F.pmod(F.col("o_orderkey"), F.lit(10)).alias("enqueue_round"),
    )
    aged = age_priorities(pending, current_round=12, boost_every=3)
    caps = (
        pending.select("host").distinct()
        .withColumn("cap", F.lit(5).cast("long"))
    )
    cut = schedule_cut(
        aged.drop("priority").withColumnRenamed(
            "effective_priority", "priority"
        ),
        caps,
    )
    return cut.select(
        "host",
        "seq",
        F.col("waited_rounds").cast("long").alias("waited_rounds"),
        F.col("priority").cast("int").alias("effective_priority"),
        F.col("host_rank").cast("long").alias("host_rank"),
    )


SQL_PRIORITY_AGING = """
WITH p AS (SELECT o_custkey % 30 AS host,
                  (CAST(substr(o_orderpriority, 1, 1) AS INT) - 1) % 3 AS prio,
                  o_orderkey AS seq,
                  o_orderkey % 10 AS enq
           FROM orders),
a AS (SELECT host, seq, 12 - enq AS waited_rounds,
             GREATEST(0, prio - (12 - enq) // 3) AS effective_priority
      FROM p),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY host
                                   ORDER BY effective_priority, seq)
               AS host_rank
      FROM a)
SELECT host, seq, CAST(waited_rounds AS BIGINT) AS waited_rounds,
       CAST(effective_priority AS INT) AS effective_priority,
       host_rank
FROM r WHERE host_rank <= 5
"""


PAIRS.update({"priority_aging": (q_priority_aging, SQL_PRIORITY_AGING)})


def q_politeness_effective_delay(spark, sf):
    """Effective per-host politeness delay: the MAX of what the site
    ASKS (governing-group robots Crawl-Delay, default 1 s) and what it
    CAN SERVE (2× the observed p95 fetch-latency bound from the
    per-host log2-histogram sketch) — the production rule real
    schedulers apply on top of robots compliance (a host whose p95 is
    8 s cannot be hit every 2 s just because robots allows it).
    Composes two oracled pipelines: robots_crawl_delay's parse chain +
    a keyed variant of fetch_latency_quantiles' sketch (same planted
    heavy-tailed latencies, keyed by event_id%50 → the robots host
    universe). Host-scale joins only after the one corpus-scale
    map-side histogram pass."""
    from cola_spark.operators.counters import (
        histogram_quantile_by,
        log2_histogram_by,
    )
    from cola_spark.operators.robots import parse_robots_delay

    rb, _ = _robots_universe(spark)
    delays = parse_robots_delay(rb, agent="colabot")

    ev = _t(spark, sf, "events")
    lat = ev.select(
        F.format_string(
            "h%d.example.com", F.pmod(F.col("event_id"), F.lit(50))
        ).alias("host"),
        F.expr(
            "1 + CAST(conv(substring(md5(concat('lat:',"
            " CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            " % shiftleft(CAST(1 AS BIGINT), CAST(1 +"
            " CAST(conv(substring(md5(concat('spread:',"
            " CAST(event_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            " % 12 AS INT))"
        ).alias("lat_ms"),
    )
    p95 = histogram_quantile_by(
        log2_histogram_by(lat, "host", "lat_ms"), permille=950
    ).withColumnRenamed("key", "host")
    eff = F.greatest(
        F.coalesce(F.col("delay_s"), F.lit(1).cast("long")) * 1000,
        F.col("ub") * 2,
    )
    return p95.join(F.broadcast(delays), "host", "left").select(
        "host",
        F.coalesce(F.col("delay_s"), F.lit(1).cast("long"))
        .alias("robots_delay_s"),
        F.col("ub").alias("p95_ub_ms"),
        eff.cast("long").alias("effective_delay_ms"),
    )


SQL_POLITENESS_EFFECTIVE = (
    "WITH "
    + _SQL_ROBOTS_PARSE_CTES
    + r""",
dly AS (SELECT b.host, MIN(CAST(b.val AS BIGINT)) AS delay_s
        FROM bl b JOIN ch ON b.host = ch.host AND b.block = ch.block
        WHERE b.dir = 'crawl-delay' AND regexp_matches(b.val, '^[0-9]+$')
        GROUP BY b.host),
ev AS (SELECT 'h' || CAST(event_id % 50 AS VARCHAR) || '.example.com'
         AS ehost,
       CAST(('0x' || substr(md5('lat:' || CAST(event_id AS VARCHAR)),
             1, 15)) AS BIGINT) AS h1,
       CAST(('0x' || substr(md5('spread:' || CAST(event_id AS VARCHAR)),
             1, 15)) AS BIGINT) AS h2
       FROM events),
lv AS (SELECT ehost,
              1 + h1 % (CAST(1 AS BIGINT) << CAST(1 + h2 % 12 AS INTEGER))
                AS v
       FROM ev),
m1 AS (SELECT ehost, v | (v >> 1) AS m FROM lv),
m2 AS (SELECT ehost, m | (m >> 2) AS m FROM m1),
m3 AS (SELECT ehost, m | (m >> 4) AS m FROM m2),
m4 AS (SELECT ehost, m | (m >> 8) AS m FROM m3),
m5 AS (SELECT ehost, m | (m >> 16) AS m FROM m4),
m6 AS (SELECT ehost, m | (m >> 32) AS m FROM m5),
hi AS (SELECT ehost, CAST(bit_count(m) - 1 AS BIGINT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS cnt
       FROM m6 GROUP BY 1, 2),
cc AS (SELECT ehost, bucket,
              CAST(SUM(cnt) OVER (PARTITION BY ehost ORDER BY bucket
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS cum
       FROM hi),
tt AS (SELECT ehost, CAST(SUM(cnt) AS BIGINT) AS n FROM hi GROUP BY ehost),
sel AS (SELECT cc.ehost, CAST(MIN(cc.bucket) AS BIGINT) AS bucket
        FROM cc JOIN tt ON cc.ehost = tt.ehost
                       AND cc.cum >= (950 * tt.n + 999) // 1000
        GROUP BY cc.ehost),
ubv AS (SELECT ehost,
               (CAST(1 AS BIGINT) << CAST(bucket + 1 AS INTEGER)) - 1 AS ub
        FROM sel)
SELECT u.ehost AS host,
       COALESCE(d.delay_s, 1) AS robots_delay_s,
       u.ub AS p95_ub_ms,
       GREATEST(COALESCE(d.delay_s, 1) * 1000, u.ub * 2)
         AS effective_delay_ms
FROM ubv u LEFT JOIN dly d ON u.ehost = d.host
"""
)

PAIRS.update({
    "politeness_effective_delay": (
        q_politeness_effective_delay,
        SQL_POLITENESS_EFFECTIVE,
    )
})


def q_zipf_fit_report(spark, sf):
    """Corpus-health telemetry: the Zipf rank-frequency fit, integer
    octaves — per rank octave (floor(log2(vocab rank))), the type count
    and the mean floor(log2(frequency)) in milli-units. A healthy
    natural-language corpus walks mean_millilog2f down ~1000/octave
    (Zipf slope −1); generator loops / boilerplate floods flatten the
    head, tokenizer damage fattens the tail — the drift signal
    vocab_drift_report can't see because it compares two snapshots
    while this checks ONE corpus against the law itself. Vocab-scale
    work after one token fan-out; the rank is the two-phase global
    rank over (freq DESC, tok)."""
    from cola_spark.operators.counters import floor_log2
    from cola_spark.operators.ranking import global_rank
    from cola_spark.operators.textdedup import spread_small_scan

    toks = spread_small_scan(_t(spark, sf, "documents")).select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").cast("long").alias("cnt"))
    ranked = global_rank(
        vocab.withColumn("_negc", -F.col("cnt")),
        ["_negc", "tok"],
        out_col="r",
        eager_release=True,
    )
    b = ranked.select(
        floor_log2(F.col("r")).alias("rank_octave"),
        floor_log2(F.col("cnt")).alias("log2f"),
    )
    return (
        b.groupBy("rank_octave")
        .agg(
            F.count("*").cast("long").alias("n_types"),
            F.sum("log2f").alias("_s"),
        )
        .select(
            "rank_octave",
            "n_types",
            F.expr("(1000 * _s) DIV n_types").alias("mean_millilog2f"),
        )
    )


SQL_ZIPF_FIT = r"""
WITH toks AS (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
rk AS (SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS r
       FROM vocab),
b AS (SELECT CAST(length(bin(r)) - 1 AS BIGINT) AS rank_octave,
             CAST(length(bin(cnt)) - 1 AS BIGINT) AS log2f
      FROM rk)
SELECT rank_octave, CAST(COUNT(*) AS BIGINT) AS n_types,
       (1000 * CAST(SUM(log2f) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
         AS mean_millilog2f
FROM b GROUP BY rank_octave
"""

PAIRS.update({"zipf_fit_report": (q_zipf_fit_report, SQL_ZIPF_FIT)})


def q_frontier_drain_report(spark, sf):
    """Scheduler capacity telemetry: per-host pending queue depth vs
    the per-round grant, and the drain horizon ceil(depth/cap) — the
    number the operator watches to size the next capacity change (a
    host with drain_rounds ≫ the re-crawl interval never catches up;
    the global p95 of this column is the fleet's backlog health).
    Host-scale aggregate over one frontier pass; composes the same
    synthetic frontier as the budget cut (cap = 9 rows/round from
    budget_topk_cut's universe)."""
    pending = _t(spark, sf, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(60)).alias("host")
    )
    depth = pending.groupBy("host").agg(
        F.count("*").cast("long").alias("depth")
    )
    return depth.select(
        "host",
        "depth",
        F.lit(9).cast("long").alias("cap"),
        F.expr("(depth + 8) DIV 9").alias("drain_rounds"),
        (F.expr("(depth + 8) DIV 9") > 4).alias("backlogged"),
    )


SQL_FRONTIER_DRAIN = """
WITH d AS (SELECT o_custkey % 60 AS host, CAST(COUNT(*) AS BIGINT) AS depth
           FROM orders GROUP BY 1)
SELECT host, depth, CAST(9 AS BIGINT) AS cap,
       (depth + 8) // 9 AS drain_rounds,
       (depth + 8) // 9 > 4 AS backlogged
FROM d
"""

PAIRS.update({"frontier_drain_report": (q_frontier_drain_report, SQL_FRONTIER_DRAIN)})


def q_dns_batch_resolve(spark, sf):
    """Batched DNS resolution with a host-keyed TTL cache
    (operators/dnscache.py): the frontier's 60 distinct hosts against
    a cache covering the even hosts with staggered resolution times
    (ttl 30 s, now = 40 s), sharded over 4 resolvers in batches of 8.
    Hits serve the cached ip_key with shard/batch -1; misses and
    expirations get a balanced hash-mod shard (hosts are distinct —
    no salting needed) and a bounded per-shard batch index. md5 hash
    family so DuckDB replays the shard assignment exactly."""
    from cola_spark.operators.dnscache import dns_cache_plan, resolve_ip_key

    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(60)).cast("string")
        ).alias("host")
    )
    hids = (
        o.select(F.pmod(F.col("o_custkey"), F.lit(60)).alias("hid"))
        .distinct()
        .filter(F.col("hid") % 2 == 0)
    )
    cache = hids.select(
        F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
        ((F.col("hid") * 7) % 50).cast("long").alias("resolved_at"),
        F.lit(30).cast("long").alias("ttl_s"),
    ).withColumn("ip_key", resolve_ip_key(F.col("host")))
    return dns_cache_plan(
        frontier, cache, now_s=40, n_resolvers=4, batch_size=8,
        hash_kind="md5",
    )


SQL_DNS_BATCH_RESOLVE = f"""
WITH hosts AS (SELECT DISTINCT o_custkey % 60 AS hid,
                      'h' || CAST(o_custkey % 60 AS VARCHAR) AS host
               FROM orders),
cache AS (SELECT host,
                 substr(md5('ip0:' || host), 1, 8) AS ip_key,
                 CAST((hid * 7) % 50 AS BIGINT) AS resolved_at,
                 CAST(30 AS BIGINT) AS ttl_s
          FROM hosts WHERE hid % 2 = 0),
cls AS (SELECT h.host,
               CASE WHEN c.ip_key IS NULL THEN 'miss'
                    WHEN c.resolved_at + c.ttl_s > 40 THEN 'hit'
                    ELSE 'expired' END AS status,
               c.ip_key AS cached_ip
        FROM hosts h LEFT JOIN cache c ON h.host = c.host),
hit AS (SELECT host, status, CAST(-1 AS BIGINT) AS shard,
               CAST(-1 AS BIGINT) AS batch_idx, cached_ip AS ip_key
        FROM cls WHERE status = 'hit'),
res AS (SELECT host, status,
               CAST({_md5i('host', 71)} % 4 AS BIGINT) AS shard
        FROM cls WHERE status <> 'hit'),
resb AS (SELECT host, status, shard,
                CAST((ROW_NUMBER() OVER (PARTITION BY shard ORDER BY host)
                      - 1) // 8 AS BIGINT) AS batch_idx,
                substr(md5('ip0:' || host), 1, 8) AS ip_key
         FROM res)
SELECT * FROM hit UNION ALL SELECT * FROM resb
"""

PAIRS.update({"dns_batch_resolve": (q_dns_batch_resolve, SQL_DNS_BATCH_RESOLVE)})


def q_revalidate_plan(spark, sf):
    """Conditional-GET revalidation plan (operators/revalidate.py):
    re-crawl candidates = every order key; the previous crawl covered
    3/4 of them (okey % 4 <> 3) and sent an ETag for 2/3 of those
    (okey % 3 <> 0); ~1/5 of validated pages actually changed (md5
    parity). Validator present -> 'revalidate' (304 unless changed,
    bytes_saved = prior body size); absent -> 'fetch_full'. URL-keyed
    left join — the same key class the dedup seen-gate shuffles on."""
    from cola_spark.operators.revalidate import revalidate_plan

    o = _t(spark, sf, "orders")
    candidates = o.select(F.col("o_orderkey").cast("long").alias("url_id"))
    prior = (
        o.filter(F.col("o_orderkey") % 4 != 3)
        .select(
            F.col("o_orderkey").cast("long").alias("url_id"),
            F.when(
                F.col("o_orderkey") % 3 != 0,
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("etag:"), F.col("o_orderkey").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
            ).alias("etag"),
            ((F.col("o_orderkey") * 37) % 100000)
            .cast("long")
            .alias("content_len"),
        )
    )
    return revalidate_plan(
        candidates, prior, key_col="url_id", change_mod=5, hash_kind="md5"
    )


SQL_REVALIDATE_PLAN = f"""
WITH cand AS (SELECT CAST(o_orderkey AS BIGINT) AS url_id FROM orders),
prior AS (SELECT CAST(o_orderkey AS BIGINT) AS url_id,
                 CASE WHEN o_orderkey % 3 <> 0
                      THEN substr(md5('etag:' ||
                                      CAST(o_orderkey AS VARCHAR)), 1, 8)
                 END AS etag,
                 CAST((o_orderkey * 37) % 100000 AS BIGINT) AS content_len
          FROM orders WHERE o_orderkey % 4 <> 3),
j AS (SELECT c.url_id, p.etag, p.content_len,
             (p.etag IS NOT NULL) AS has_v,
             ({_md5i('CAST(c.url_id AS VARCHAR)', 101)} % 5 = 0) AS changed
      FROM cand c LEFT JOIN prior p ON c.url_id = p.url_id)
SELECT url_id,
       CASE WHEN has_v THEN 'revalidate' ELSE 'fetch_full' END AS action,
       (has_v AND NOT changed) AS not_modified,
       CAST(CASE WHEN has_v AND NOT changed THEN content_len
                 ELSE 0 END AS BIGINT) AS bytes_saved
FROM j
"""

PAIRS.update({"revalidate_plan": (q_revalidate_plan, SQL_REVALIDATE_PLAN)})


def q_ip_politeness_cut(spark, sf):
    """Two-level politeness (operators/dnscache.py ip_politeness_cut):
    per-host cap 20 then per-IP cap 50 over the survivors, with a
    7-address IP pool (md5-mod colocation — the CDN / shared-hosting
    shape where per-host budgets alone overload the shared address).
    Both caps bind at sf0.001+ (25 rows/host average, ~170 capped rows
    per IP). The per-IP window sees at most hosts_per_ip * host_cap
    rows by construction — never frontier scale."""
    from cola_spark.operators.dnscache import ip_politeness_cut
    from cola_spark.operators.textdedup import hash_family

    h = hash_family("md5")
    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(60)).cast("string")
        ).alias("host"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").cast("long").alias("seq"),
    )
    resolution = (
        frontier.select("host")
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("ip"), (h(F.col("host"), 31) % 7).cast("string")
            ).alias("ip_key"),
        )
    )
    return ip_politeness_cut(
        frontier, resolution, host_cap=20, ip_cap=50
    ).select("host", "prio", "seq", "ip_key", "host_rank", "ip_rank")


SQL_IP_POLITENESS_CUT = f"""
WITH f AS (SELECT 'h' || CAST(o_custkey % 60 AS VARCHAR) AS host,
                  o_orderpriority AS prio,
                  CAST(o_orderkey AS BIGINT) AS seq
           FROM orders),
res AS (SELECT host,
               'ip' || CAST({_md5i('host', 31)} % 7 AS VARCHAR) AS ip_key
        FROM (SELECT DISTINCT host FROM f)),
ph AS (SELECT f.*, CAST(ROW_NUMBER() OVER (PARTITION BY host
                                           ORDER BY prio, seq)
                        AS BIGINT) AS host_rank
       FROM f),
phc AS (SELECT * FROM ph WHERE host_rank <= 20),
j AS (SELECT phc.host, phc.prio, phc.seq, phc.host_rank, res.ip_key
      FROM phc JOIN res ON phc.host = res.host),
pi AS (SELECT j.*, CAST(ROW_NUMBER() OVER (PARTITION BY ip_key
                                           ORDER BY prio, seq, host)
                        AS BIGINT) AS ip_rank
       FROM j)
SELECT host, prio, seq, ip_key, host_rank, ip_rank
FROM pi WHERE ip_rank <= 50
"""

PAIRS.update({"ip_politeness_cut": (q_ip_politeness_cut, SQL_IP_POLITENESS_CUT)})


def q_bytes_budget_cut(spark, sf):
    """Per-host egress-bytes rationing (operators/budget.py
    bytes_budget_cut): the frontier priced by the previous crawl's
    content_len (3/4 of URLs known, the rest costed at the 50 kB
    default), granted in FIFO (prio, seq) order while the host's
    running total fits a 500 kB round budget. Strict prefix — a large
    body blocks its host's queue rather than reordering the politeness
    FIFO. One host-partitioned running-sum window."""
    from cola_spark.operators.budget import bytes_budget_cut

    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.pmod(F.col("o_custkey"), F.lit(60)).cast("long").alias("host"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").cast("long").alias("seq"),
        F.when(
            F.col("o_orderkey") % 4 != 3,
            ((F.col("o_orderkey") * 37) % 100000),
        )
        .cast("long")
        .alias("expected_len"),
    )
    return bytes_budget_cut(
        frontier, byte_budget=500_000, default_len=50_000
    ).select("host", "prio", "seq", "cost", "cum_bytes")


SQL_BYTES_BUDGET_CUT = """
WITH f AS (SELECT o_custkey % 60 AS host,
                  o_orderpriority AS prio,
                  CAST(o_orderkey AS BIGINT) AS seq,
                  CASE WHEN o_orderkey % 4 <> 3
                       THEN CAST((o_orderkey * 37) % 100000 AS BIGINT)
                  END AS expected_len
           FROM orders),
c AS (SELECT host, prio, seq,
             COALESCE(expected_len, 50000) AS cost
      FROM f),
r AS (SELECT host, prio, seq, cost,
             CAST(SUM(cost) OVER (PARTITION BY host ORDER BY prio, seq
                                  ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_bytes
      FROM c)
SELECT host, prio, seq, CAST(cost AS BIGINT) AS cost, cum_bytes
FROM r WHERE cum_bytes <= 500000
"""

PAIRS.update({"bytes_budget_cut": (q_bytes_budget_cut, SQL_BYTES_BUDGET_CUT)})


def q_connection_wave_plan(spark, sf):
    """Keep-alive fetch execution shape (operators/dnscache.py
    connection_wave_plan) composed onto the two-level politeness cut:
    each granted URL gets the persistent connection it reuses
    (conn_slot, 3 per host) and its dispatch wave. Pure projection on
    the cut's host_rank — no new exchange; the fetcher executes
    groupBy(host, wave)."""
    from cola_spark.operators.dnscache import (
        connection_wave_plan,
        ip_politeness_cut,
    )
    from cola_spark.operators.textdedup import hash_family

    h = hash_family("md5")
    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(60)).cast("string")
        ).alias("host"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").cast("long").alias("seq"),
    )
    resolution = (
        frontier.select("host")
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("ip"), (h(F.col("host"), 31) % 7).cast("string")
            ).alias("ip_key"),
        )
    )
    cut = ip_politeness_cut(frontier, resolution, host_cap=20, ip_cap=50)
    return connection_wave_plan(cut, max_conns=3).select(
        "host", "prio", "seq", "ip_key", "host_rank", "ip_rank",
        "conn_slot", "wave",
    )


SQL_CONNECTION_WAVE_PLAN = f"""
WITH f AS (SELECT 'h' || CAST(o_custkey % 60 AS VARCHAR) AS host,
                  o_orderpriority AS prio,
                  CAST(o_orderkey AS BIGINT) AS seq
           FROM orders),
res AS (SELECT host,
               'ip' || CAST({_md5i('host', 31)} % 7 AS VARCHAR) AS ip_key
        FROM (SELECT DISTINCT host FROM f)),
ph AS (SELECT f.*, CAST(ROW_NUMBER() OVER (PARTITION BY host
                                           ORDER BY prio, seq)
                        AS BIGINT) AS host_rank
       FROM f),
phc AS (SELECT * FROM ph WHERE host_rank <= 20),
j AS (SELECT phc.host, phc.prio, phc.seq, phc.host_rank, res.ip_key
      FROM phc JOIN res ON phc.host = res.host),
pi AS (SELECT j.*, CAST(ROW_NUMBER() OVER (PARTITION BY ip_key
                                           ORDER BY prio, seq, host)
                        AS BIGINT) AS ip_rank
       FROM j)
SELECT host, prio, seq, ip_key, host_rank, ip_rank,
       CAST((host_rank - 1) % 3 AS BIGINT) AS conn_slot,
       CAST((host_rank - 1) // 3 AS BIGINT) AS wave
FROM pi WHERE ip_rank <= 50
"""

PAIRS.update({"connection_wave_plan": (q_connection_wave_plan, SQL_CONNECTION_WAVE_PLAN)})


def q_warc_segment_plan(spark, sf):
    """Archive-segment export layout (operators/export.py
    segment_pack): fetched records (planted body sizes, 500-40499
    bytes) hash-sharded over 4 writers, each writer's shard laid out
    in key order and cut into 64 KiB-target segments by the
    rotate-after-exceed policy (segment = start-offset DIV target;
    records never split, only a segment's last record overflows the
    target). The layout is a PLAN — pure arithmetic over sizes — so
    both engines compute the identical table. md5 hash family for the
    DuckDB twin."""
    from cola_spark.operators.export import segment_pack

    o = _t(spark, sf, "orders")
    rec = o.select(
        F.concat(F.lit("u"), F.col("o_orderkey").cast("string")).alias(
            "key"
        ),
        ((F.col("o_orderkey") * 131) % 40000 + 500)
        .cast("long")
        .alias("nbytes"),
    )
    return segment_pack(
        rec, segment_bytes=65536, n_writers=4, hash_kind="md5"
    )


SQL_WARC_SEGMENT_PLAN = f"""
WITH rec AS (SELECT 'u' || CAST(o_orderkey AS VARCHAR) AS key,
                    CAST((o_orderkey * 131) % 40000 + 500 AS BIGINT)
                      AS nbytes
             FROM orders),
sh AS (SELECT key, nbytes,
              CAST({_md5i('key', 'seg')} % 4 AS BIGINT) AS writer
       FROM rec),
c AS (SELECT key, nbytes, writer,
             CAST(SUM(nbytes) OVER (PARTITION BY writer ORDER BY key)
                  - nbytes AS BIGINT) AS before
      FROM sh)
SELECT key, nbytes, writer,
       CAST(before // 65536 AS BIGINT) AS segment,
       CAST(before % 65536 AS BIGINT) AS seg_offset
FROM c
"""

PAIRS.update({"warc_segment_plan": (q_warc_segment_plan, SQL_WARC_SEGMENT_PLAN)})


def q_image_shard_export(spark, sf):
    """Webdataset-style image tar-shard manifest (operators/export.py
    segment_pack + segment_manifest) over the PLANTED image universe:
    per-image compressed sizes (2-252 KB, md5-planted), packed into
    1 MiB-target shards per writer; the query returns the per-(writer,
    segment) manifest — record count, payload bytes, first/last key —
    the sidecar a dataloader reads before opening a shard. Same
    operator as the WARC plan: the layout math is payload-agnostic."""
    from cola_spark.operators.export import segment_manifest, segment_pack

    docs = _t(spark, sf, "documents")
    nb = (
        F.lit(2048)
        + F.pmod(
            _md5_col(F.concat(F.lit("ib:"), F.col("doc_id").cast("string"))),
            F.lit(250000),
        )
    ).cast("long")
    imgs = docs.select(F.col("doc_id").alias("key"), nb.alias("nbytes"))
    layout = segment_pack(
        imgs, segment_bytes=1 << 20, n_writers=4, hash_kind="md5"
    )
    return segment_manifest(layout)


SQL_IMAGE_SHARD_EXPORT = f"""
WITH rec AS (SELECT doc_id AS key,
                    CAST(2048 +
                         (CAST(('0x' || substr(md5('ib:' ||
                               CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                          % 250000) AS BIGINT) AS nbytes
             FROM documents),
sh AS (SELECT key, nbytes,
              CAST({_md5i('CAST(key AS VARCHAR)', 'seg')} % 4 AS BIGINT)
                AS writer
       FROM rec),
c AS (SELECT key, nbytes, writer,
             CAST(SUM(nbytes) OVER (PARTITION BY writer ORDER BY key)
                  - nbytes AS BIGINT) AS before
      FROM sh),
lay AS (SELECT key, nbytes, writer,
               CAST(before // 1048576 AS BIGINT) AS segment
        FROM c)
SELECT writer, segment, CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(SUM(nbytes) AS BIGINT) AS seg_bytes,
       MIN(key) AS first_key, MAX(key) AS last_key
FROM lay GROUP BY writer, segment
"""

PAIRS.update({"image_shard_export": (q_image_shard_export, SQL_IMAGE_SHARD_EXPORT)})


def q_host_health_score(spark, sf):
    """Host health EWMA + quarantine (operators/health.py): per-(host,
    round) fetch/error stats (40 hosts x 6 rounds, every 5th fetch an
    error) folded into the exact integer EWMA with decay 1/2 per round
    (weight 1 << round — the most recent round counts double its
    predecessor), quarantining hosts whose weighted milli-error-rate
    reaches 200. All shift/div integer arithmetic — DuckDB replays the
    whole chain bit-exactly."""
    from cola_spark.operators.health import host_health_ewma

    o = _t(spark, sf, "orders")
    ev = o.select(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(40)).cast("string")
        ).alias("host"),
        F.pmod(F.col("o_orderkey"), F.lit(6)).cast("long").alias("round"),
        (F.col("o_orderkey") % 5 == 0).cast("long").alias("is_err"),
    )
    stats = ev.groupBy("host", "round").agg(
        F.count("*").cast("long").alias("fetches"),
        F.sum("is_err").cast("long").alias("errs"),
    )
    return host_health_ewma(stats, quarantine_milli=200)


SQL_HOST_HEALTH_SCORE = """
WITH ev AS (SELECT 'h' || CAST(o_custkey % 40 AS VARCHAR) AS host,
                   CAST(o_orderkey % 6 AS BIGINT) AS round,
                   CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS is_err
            FROM orders),
st AS (SELECT host, round, CAST(COUNT(*) AS BIGINT) AS fetches,
              CAST(SUM(is_err) AS BIGINT) AS errs
       FROM ev GROUP BY host, round),
sc AS (SELECT host, round,
              ((1000 * errs) // fetches) * (CAST(1 AS BIGINT) << round)
                AS num,
              (CAST(1 AS BIGINT) << round) AS den
       FROM st),
ag AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS rounds_seen,
              MAX(round) AS last_round,
              SUM(num) AS n, SUM(den) AS d
       FROM sc GROUP BY host)
SELECT host, rounds_seen, last_round,
       CAST(n // d AS BIGINT) AS ewma_milli,
       (n // d) >= 200 AS quarantined
FROM ag
"""

PAIRS.update({"host_health_score": (q_host_health_score, SQL_HOST_HEALTH_SCORE)})


def q_retry_backoff_plan(spark, sf):
    """Truncated-exponential retry backoff with deterministic per-URL
    jitter (operators/health.py retry_backoff_plan): the retry split's
    requeue set (every 11th order key, attempt = key mod 9) gets
    delay = 4 << min(attempt, 6) + md5(url) mod 16 — doubling spaces
    retries out, the cap bounds the wait at 256 s, and hash jitter
    de-synchronizes the herd with zero randomness (rerun-stable,
    engine-replayable). Pure projection — zero exchanges."""
    from cola_spark.operators.health import retry_backoff_plan

    o = _t(spark, sf, "orders")
    failed = o.filter(F.col("o_orderkey") % 11 == 0).select(
        F.col("o_orderkey").cast("long").alias("url_id"),
        F.pmod(F.col("o_orderkey"), F.lit(9)).cast("long").alias("attempt"),
    )
    return retry_backoff_plan(
        failed, now_s=1000, base_s=4, attempt_cap=6, jitter_s=16,
        hash_kind="md5",
    )


SQL_RETRY_BACKOFF_PLAN = f"""
WITH f AS (SELECT CAST(o_orderkey AS BIGINT) AS url_id,
                  CAST(o_orderkey % 9 AS BIGINT) AS attempt
           FROM orders WHERE o_orderkey % 11 = 0),
d AS (SELECT url_id, attempt,
             (CAST(4 AS BIGINT) << CAST(LEAST(attempt, 6) AS INT))
               + ({_md5i('CAST(url_id AS VARCHAR)', 'boff')} % 16)
               AS delay_s
      FROM f)
SELECT url_id, attempt, CAST(delay_s AS BIGINT) AS delay_s,
       CAST(1000 + delay_s AS BIGINT) AS next_due_s
FROM d
"""

PAIRS.update({"retry_backoff_plan": (q_retry_backoff_plan, SQL_RETRY_BACKOFF_PLAN)})


def q_robots_refetch_plan(spark, sf):
    """robots.txt cache TTL planning (operators/robots.py
    robots_refetch_plan): 60 frontier hosts against a robots cache
    covering hosts hid%3!=1 with staggered fetch times (ttl 40 s,
    now 90 s). Fresh hosts serve cached rules (shard/batch -1);
    expired hosts serve-stale-while-revalidating (RFC 9309 §2.4);
    never-fetched hosts HOLD their URLs (fetching before robots.txt
    is the compliance bug) — both scheduled over 4 fetchers in
    bounded batches of 8 (hash-mod over distinct hosts, salt-free by
    construction). md5 family so DuckDB replays the shards."""
    from cola_spark.operators.robots import robots_refetch_plan

    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(60)).cast("string")
        ).alias("host")
    )
    hids = (
        o.select(F.pmod(F.col("o_custkey"), F.lit(60)).alias("hid"))
        .distinct()
        .filter(F.col("hid") % 3 != 1)
    )
    cache = hids.select(
        F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
        ((F.col("hid") * 13) % 80).cast("long").alias("fetched_at"),
        F.lit(40).cast("long").alias("ttl_s"),
    )
    return robots_refetch_plan(
        frontier, cache, now_s=90, n_fetchers=4, batch_size=8,
        hash_kind="md5",
    )


SQL_ROBOTS_REFETCH_PLAN = f"""
WITH hosts AS (SELECT DISTINCT o_custkey % 60 AS hid,
                      'h' || CAST(o_custkey % 60 AS VARCHAR) AS host
               FROM orders),
cache AS (SELECT host,
                 CAST((hid * 13) % 80 AS BIGINT) AS fetched_at,
                 CAST(40 AS BIGINT) AS ttl_s
          FROM hosts WHERE hid % 3 <> 1),
cls AS (SELECT h.host,
               CASE WHEN c.fetched_at IS NULL THEN 'missing'
                    WHEN c.fetched_at + c.ttl_s > 90 THEN 'fresh'
                    ELSE 'expired' END AS status
        FROM hosts h LEFT JOIN cache c ON h.host = c.host),
fr AS (SELECT host, status, 'serve' AS action,
              CAST(-1 AS BIGINT) AS shard, CAST(-1 AS BIGINT) AS batch_idx
       FROM cls WHERE status = 'fresh'),
tf AS (SELECT host, status,
              CAST({_md5i('host', 83)} % 4 AS BIGINT) AS shard
       FROM cls WHERE status <> 'fresh'),
pl AS (SELECT host, status,
              CASE WHEN status = 'expired' THEN 'serve_stale'
                   ELSE 'hold' END AS action,
              shard,
              CAST((ROW_NUMBER() OVER (PARTITION BY shard ORDER BY host)
                    - 1) // 8 AS BIGINT) AS batch_idx
       FROM tf)
SELECT * FROM fr UNION ALL SELECT * FROM pl
"""

PAIRS.update({"robots_refetch_plan": (q_robots_refetch_plan, SQL_ROBOTS_REFETCH_PLAN)})


def q_audit_sample(spark, sf):
    """Fixed-k-per-stratum QA sample (operators/sampling.py
    audit_sample): 5 docs per source stratum (12 md-planted sources),
    membership = the 5 smallest (md5(doc_id), doc_id) per stratum —
    deterministic, engine-stable, unbiased w.r.t. content. The
    rank<=k window compiles to Spark's WindowGroupLimit pushdown: the
    k-cut runs map-side BEFORE the stratum exchange, so a Zipf-hot
    stratum never ships its full mass."""
    from cola_spark.operators.sampling import audit_sample

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("src"), F.pmod(F.col("doc_id"), F.lit(12)).cast("string")
        ).alias("source"),
    )
    return audit_sample(docs, k=5, stratum_col="source", hash_kind="md5")


SQL_AUDIT_SAMPLE = f"""
WITH d AS (SELECT doc_id,
                  'src' || CAST(doc_id % 12 AS VARCHAR) AS source
           FROM documents),
r AS (SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
                    PARTITION BY source
                    ORDER BY {_md5i('CAST(doc_id AS VARCHAR)', 'audit')},
                             doc_id) AS BIGINT) AS sample_rank
      FROM d)
SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 5
"""

PAIRS.update({"audit_sample": (q_audit_sample, SQL_AUDIT_SAMPLE)})


def q_curriculum_phase_plan(spark, sf):
    """Quality-curriculum step table (operators/selection.py
    curriculum_plan): the CCNet trichotomy gives the phases (head
    first), and inside each phase the step order is md5-mixed so batch
    statistics never correlate with step index — (tier, hash, doc) via
    the two-phase global rank, no single-partition window anywhere.
    The oracle replays corpus stats, tiering AND the mixed step
    numbering end-to-end."""
    from cola_spark.operators.selection import curriculum_plan
    from cola_spark.operators.textstats import unigram_quality

    return curriculum_plan(
        unigram_quality(_t(spark, sf, "documents")), hash_kind="md5"
    )


SQL_CURRICULUM_PLAN = rf"""
WITH toks AS (SELECT doc_id,
                     UNNEST(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
vocab AS (SELECT tok, CAST(length(bin(COUNT(*))) - 1 AS BIGINT) AS bucket
          FROM toks GROUP BY tok),
scored AS (SELECT t.doc_id, v.bucket FROM toks t JOIN vocab v USING (tok)),
uq AS (SELECT doc_id,
              CAST((1000 * CAST(SUM(bucket) AS BIGINT)) // COUNT(*)
                   AS BIGINT) AS mean_millilog
       FROM scored GROUP BY doc_id),
rk AS (SELECT doc_id, mean_millilog,
              ROW_NUMBER() OVER (ORDER BY mean_millilog DESC, doc_id)
                AS q_rank,
              COUNT(*) OVER () AS tot
       FROM uq),
t AS (SELECT doc_id, mean_millilog, CAST(q_rank AS BIGINT) AS q_rank,
             ((q_rank - 1) * 3) // tot + 1 AS tier,
             CASE WHEN ((q_rank - 1) * 3) // tot + 1 = 1 THEN 'head'
                  WHEN ((q_rank - 1) * 3) // tot + 1 = 3 THEN 'tail'
                  ELSE 'middle' END AS tier_label
      FROM rk)
SELECT doc_id, mean_millilog, q_rank, tier, tier_label,
       CAST(ROW_NUMBER() OVER (
              ORDER BY tier,
                       {_md5i('CAST(doc_id AS VARCHAR)', 'cur')},
                       doc_id) AS BIGINT) AS curriculum_step
FROM t
"""

PAIRS.update({"curriculum_phase_plan": (q_curriculum_phase_plan, SQL_CURRICULUM_PLAN)})


def q_multimodal_consensus_dedup(spark, sf):
    """Two-signal image dedup (operators/multimodal.py
    consensus_dedup_pairs): the planted pHash near-dup pairs annotated
    with caption-fingerprint agreement — within each planted 4-group,
    members 0 and 1 share a caption (member 0 SHOUTS it uppercase,
    member 1 appends stray whitespace — the fingerprint normalizes
    both), members 2 and 3 have their own. consensus=true pairs are
    the safe auto-drops; pHash-only pairs route to keep-best instead.
    Oracle replays planting, banding, Hamming verify and both caption
    joins."""
    from cola_spark.operators.multimodal import consensus_dedup_pairs

    docs = _t(spark, sf, "documents")
    grp = F.floor(F.col("doc_id") / 4).cast("long").cast("string")
    base_cap = F.concat(F.lit("shared scene "), grp)
    own_cap = F.concat(
        F.lit("unique scene "), F.col("doc_id").cast("string")
    )
    m = F.col("doc_id") % 4
    cap = (
        F.when(m == 0, F.upper(base_cap))
        .when(m == 1, F.concat(base_cap, F.lit("  ")))
        .otherwise(own_cap)
    )
    caps = docs.select(
        F.col("doc_id").alias("image_id"), cap.alias("caption")
    )
    pairs = _planted_phash_pairs(spark, sf)
    return consensus_dedup_pairs(pairs, caps)


SQL_CONSENSUS_DEDUP = f"""
WITH {_SQL_PH_CTES},
caps AS (SELECT doc_id,
                md5(lower(trim(
                  CASE WHEN doc_id % 4 = 0
                       THEN upper('shared scene ' ||
                            CAST(CAST(FLOOR(doc_id / 4) AS BIGINT)
                                 AS VARCHAR))
                       WHEN doc_id % 4 = 1
                       THEN 'shared scene ' ||
                            CAST(CAST(FLOOR(doc_id / 4) AS BIGINT)
                                 AS VARCHAR) || '  '
                       ELSE 'unique scene ' || CAST(doc_id AS VARCHAR)
                  END))) AS fp
         FROM documents)
SELECT p.doc_a AS img_a, p.doc_b AS img_b, p.hamming,
       a.fp = b.fp AS caption_match,
       a.fp = b.fp AS consensus
FROM ppairs p
JOIN caps a ON a.doc_id = p.doc_a
JOIN caps b ON b.doc_id = p.doc_b
"""

PAIRS.update({"multimodal_consensus_dedup": (q_multimodal_consensus_dedup, SQL_CONSENSUS_DEDUP)})


def q_content_length_audit(spark, sf):
    """Fetch integrity report (operators/revalidate.py
    content_length_audit): planted fetch results — 1/6 of pages send
    no Content-Length (unverifiable -> exact), of the rest 1/7 are
    truncated transfers (body short, clamped at 0) and a further 1/11
    overrun their header — rolled up per host into truncated/overrun
    counts, integer truncation permille, and the wasted egress bytes
    the bytes-budget planner should claw back."""
    from cola_spark.operators.revalidate import content_length_audit

    o = _t(spark, sf, "orders")
    claimed = F.when(
        F.col("o_orderkey") % 6 != 0,
        ((F.col("o_orderkey") * 53) % 60000).cast("long"),
    )
    body = (
        F.when(
            claimed.isNull(),
            ((F.col("o_orderkey") * 29) % 50000).cast("long"),
        )
        .when(
            F.col("o_orderkey") % 7 == 0,
            F.greatest(
                claimed - ((F.col("o_orderkey") % 97) + 1).cast("long"),
                F.lit(0).cast("long"),
            ),
        )
        .when(F.col("o_orderkey") % 11 == 0, claimed + 17)
        .otherwise(claimed)
    )
    fetches = o.select(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_orderkey"), F.lit(30)).cast("string")
        ).alias("host"),
        claimed.alias("claimed_len"),
        body.alias("body_len"),
    )
    return content_length_audit(fetches)


SQL_CONTENT_LENGTH_AUDIT = """
WITH f AS (SELECT 'h' || CAST(o_orderkey % 30 AS VARCHAR) AS host,
                  CASE WHEN o_orderkey % 6 <> 0
                       THEN CAST((o_orderkey * 53) % 60000 AS BIGINT)
                  END AS claimed_len,
                  o_orderkey AS okey
           FROM orders),
fb AS (SELECT host, claimed_len,
              CASE WHEN claimed_len IS NULL
                   THEN CAST((okey * 29) % 50000 AS BIGINT)
                   WHEN okey % 7 = 0
                   THEN GREATEST(claimed_len -
                                 CAST((okey % 97) + 1 AS BIGINT),
                                 CAST(0 AS BIGINT))
                   WHEN okey % 11 = 0 THEN claimed_len + 17
                   ELSE claimed_len END AS body_len
       FROM f),
m AS (SELECT host,
             CASE WHEN claimed_len IS NOT NULL AND body_len < claimed_len
                  THEN 1 ELSE 0 END AS tr,
             CASE WHEN claimed_len IS NOT NULL AND body_len > claimed_len
                  THEN 1 ELSE 0 END AS ov,
             body_len
      FROM fb)
SELECT host, CAST(COUNT(*) AS BIGINT) AS fetches,
       CAST(SUM(tr) AS BIGINT) AS truncated,
       CAST(SUM(ov) AS BIGINT) AS overrun,
       CAST(COUNT(*) - SUM(tr) - SUM(ov) AS BIGINT) AS exact,
       CAST((1000 * SUM(tr)) // COUNT(*) AS BIGINT) AS truncated_permille,
       CAST(SUM(tr * body_len) AS BIGINT) AS wasted_bytes
FROM m GROUP BY host
"""

PAIRS.update({"content_length_audit": (q_content_length_audit, SQL_CONTENT_LENGTH_AUDIT)})


def q_fetch_dispatch_plan(spark, sf):
    """FETCH-ECONOMICS CAPSTONE: the full pre-dispatch pipeline a
    production fetcher runs between 'frontier cut' and 'socket open',
    composing five individually-oracled operators end-to-end:

      robots TTL plan (hold never-fetched hosts; serve-stale expired,
      RFC 9309 §2.4) -> per-host then per-IP politeness cut (CDN
      colocation via the md5 7-address pool) -> per-host egress-bytes
      FIFO-prefix rationing (expected sizes from the revalidation
      planner's content_len, NULLs at the 30 KB default) ->
      keep-alive connection slots + dispatch waves.

    Every stage is host-keyed (the one exchange class the politeness
    queue already pays) or a bounded second window (per-IP <=
    hosts_per_ip * host_cap by construction); the wave assignment is a
    pure projection. The oracle nests all five stages as one CTE
    chain — a drift anywhere in the composition hash-fails."""
    from cola_spark.operators.budget import bytes_budget_cut
    from cola_spark.operators.dnscache import (
        connection_wave_plan,
        ip_politeness_cut,
    )
    from cola_spark.operators.robots import robots_refetch_plan
    from cola_spark.operators.textdedup import hash_family

    o = _t(spark, sf, "orders")
    frontier = o.select(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(60)).cast("string")
        ).alias("host"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").cast("long").alias("seq"),
        F.when(
            F.col("o_orderkey") % 4 != 3,
            ((F.col("o_orderkey") * 37) % 100000).cast("long"),
        ).alias("expected_len"),
    )
    hids = (
        o.select(F.pmod(F.col("o_custkey"), F.lit(60)).alias("hid"))
        .distinct()
        .filter(F.col("hid") % 3 != 1)
    )
    rcache = hids.select(
        F.concat(F.lit("h"), F.col("hid").cast("string")).alias("host"),
        ((F.col("hid") * 13) % 80).cast("long").alias("fetched_at"),
        F.lit(40).cast("long").alias("ttl_s"),
    )
    plan = robots_refetch_plan(
        frontier, rcache, now_s=90, n_fetchers=4, batch_size=8,
        hash_kind="md5",
    )
    allowed = frontier.join(
        plan.filter(F.col("action") != "hold").select("host"), "host"
    )
    h = hash_family("md5")
    resolution = (
        allowed.select("host")
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("ip"), (h(F.col("host"), 31) % 7).cast("string")
            ).alias("ip_key"),
        )
    )
    cut = ip_politeness_cut(allowed, resolution, host_cap=20, ip_cap=50)
    granted = bytes_budget_cut(
        cut, byte_budget=400000, default_len=30000
    )
    w = Window.partitionBy("host").orderBy("prio", "seq")
    ranked = granted.withColumn(
        "dispatch_rank", F.row_number().over(w).cast("long")
    )
    waves = connection_wave_plan(ranked, max_conns=3, rank_col="dispatch_rank")
    return waves.select(
        "host", "prio", "seq", "ip_key", "cost", "cum_bytes",
        "dispatch_rank", "conn_slot", "wave",
    )


SQL_FETCH_DISPATCH_PLAN = f"""
WITH f AS (SELECT 'h' || CAST(o_custkey % 60 AS VARCHAR) AS host,
                  o_orderpriority AS prio,
                  CAST(o_orderkey AS BIGINT) AS seq,
                  CASE WHEN o_orderkey % 4 <> 3
                       THEN CAST((o_orderkey * 37) % 100000 AS BIGINT)
                  END AS expected_len
           FROM orders),
hosts AS (SELECT DISTINCT o_custkey % 60 AS hid,
                 'h' || CAST(o_custkey % 60 AS VARCHAR) AS host
          FROM orders),
rcache AS (SELECT host,
                  CAST((hid * 13) % 80 AS BIGINT) AS fetched_at,
                  CAST(40 AS BIGINT) AS ttl_s
           FROM hosts WHERE hid % 3 <> 1),
cls AS (SELECT h.host,
               CASE WHEN c.fetched_at IS NULL THEN 'missing'
                    WHEN c.fetched_at + c.ttl_s > 90 THEN 'fresh'
                    ELSE 'expired' END AS status
        FROM hosts h LEFT JOIN rcache c ON h.host = c.host),
fa AS (SELECT f.* FROM f JOIN cls ON f.host = cls.host
       WHERE cls.status <> 'missing'),
res AS (SELECT host,
               'ip' || CAST({_md5i('host', 31)} % 7 AS VARCHAR) AS ip_key
        FROM (SELECT DISTINCT host FROM fa)),
ph AS (SELECT fa.*, CAST(ROW_NUMBER() OVER (PARTITION BY host
                                            ORDER BY prio, seq)
                         AS BIGINT) AS host_rank
       FROM fa),
phc AS (SELECT * FROM ph WHERE host_rank <= 20),
j AS (SELECT phc.*, res.ip_key
      FROM phc JOIN res ON phc.host = res.host),
pi AS (SELECT j.*, CAST(ROW_NUMBER() OVER (PARTITION BY ip_key
                                           ORDER BY prio, seq, host)
                        AS BIGINT) AS ip_rank
       FROM j),
pic AS (SELECT * FROM pi WHERE ip_rank <= 50),
bb AS (SELECT *,
              CAST(COALESCE(expected_len, 30000) AS BIGINT) AS cost,
              CAST(SUM(COALESCE(expected_len, 30000)) OVER (
                     PARTITION BY host ORDER BY prio, seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_bytes
       FROM pic),
gr AS (SELECT * FROM bb WHERE cum_bytes <= 400000),
dr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host
                                         ORDER BY prio, seq)
                      AS BIGINT) AS dispatch_rank
       FROM gr)
SELECT host, prio, seq, ip_key, cost, cum_bytes, dispatch_rank,
       CAST((dispatch_rank - 1) % 3 AS BIGINT) AS conn_slot,
       CAST((dispatch_rank - 1) // 3 AS BIGINT) AS wave
FROM dr
"""

PAIRS.update({"fetch_dispatch_plan": (q_fetch_dispatch_plan, SQL_FETCH_DISPATCH_PLAN)})


# ---------------- sketch/LM/retrieval batch (round 5, continuation session)


_CMS_HOST = (
    "CASE WHEN l_orderkey % 100 < 30 THEN 'hot' || CAST(l_orderkey % 3 AS VARCHAR)"
    " ELSE 'h' || CAST(l_orderkey % 97 AS VARCHAR) END"
)


def _cms_events(spark, sf):
    """Synthetic per-fetch host stream with a planted Zipf head: 30% of
    events concentrate on 3 hot hosts (~10% each), the rest spread over
    97 cold hosts (~0.7% each) — the skew shape a frontier's per-host
    load telemetry exists to catch."""
    li = _t(spark, sf, "lineitem")
    return li.select(
        F.when(
            F.pmod("l_orderkey", F.lit(100)) < 30,
            F.concat(F.lit("hot"), F.pmod("l_orderkey", F.lit(3)).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("h"), F.pmod("l_orderkey", F.lit(97)).cast("string"))
        )
        .alias("host")
    )


def q_cms_heavy_hitters(spark, sf):
    """Count-Min-Sketch heavy hitters (operators/cardinality.py
    cms_cells/cms_estimate): per-host frontier load answered from a
    3x64-cell sketch instead of a host-keyed corpus shuffle — the
    frequency member of the sketch family (HLL = distinct, log2
    histogram = quantiles, CMS = heavy hitters). The corpus pass is
    map-side (192-key combinable groupBy); candidates score against
    the broadcast sketch at host scale. est >= exact one-sided
    guarantee and cell-wise mergeability are test-pinned; exact_cnt /
    overcount are SANDBOX audit columns (at 10^10 events the sketch
    replaces the exact count — that is the point). is_heavy flags
    hosts whose estimate clears 5% of total traffic; the planted
    universe keeps both branches live (3 hot hosts over threshold, 97
    cold below)."""
    from cola_spark.operators.cardinality import cms_cells, cms_estimate

    ev = _cms_events(spark, sf)
    cells = cms_cells(ev, "host", depth=3, width=64)
    cand = ev.select("host").distinct()
    est = cms_estimate(cells, cand, "host", depth=3, width=64)
    exact = ev.groupBy("host").agg(F.count("*").cast("long").alias("exact_cnt"))
    tot = ev.agg(F.count("*").cast("long").alias("total"))
    return (
        est.join(exact, "host")
        .crossJoin(F.broadcast(tot))
        .select(
            "host",
            "est",
            "exact_cnt",
            (F.col("est") - F.col("exact_cnt")).cast("long").alias("overcount"),
            (F.col("est") * 1000 >= F.lit(50) * F.col("total")).alias("is_heavy"),
        )
    )


SQL_CMS_HEAVY = f"""
WITH ev AS (SELECT {_CMS_HOST} AS host FROM lineitem),
cl AS (SELECT i.i AS r,
              CAST(('0x' || substr(md5('cms' || CAST(i.i AS VARCHAR) || ':'
                                       || host), 1, 15)) AS BIGINT) % 64 AS p
       FROM ev, UNNEST(generate_series(0, 2)) AS i(i)),
occ AS (SELECT r, p, CAST(COUNT(*) AS BIGINT) AS cnt FROM cl GROUP BY 1, 2),
cand AS (SELECT DISTINCT host FROM ev),
cc AS (SELECT host, i.i AS r,
              CAST(('0x' || substr(md5('cms' || CAST(i.i AS VARCHAR) || ':'
                                       || host), 1, 15)) AS BIGINT) % 64 AS p
       FROM cand, UNNEST(generate_series(0, 2)) AS i(i)),
es AS (SELECT host, CAST(MIN(o.cnt) AS BIGINT) AS est
       FROM cc JOIN occ o USING (r, p) GROUP BY host),
ex AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS exact_cnt
       FROM ev GROUP BY host),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM ev)
SELECT e.host, e.est, x.exact_cnt,
       CAST(e.est - x.exact_cnt AS BIGINT) AS overcount,
       e.est * 1000 >= 50 * t.total AS is_heavy
FROM es e JOIN ex x USING (host) CROSS JOIN t
"""


def q_lm_perplexity_gate(spark, sf):
    """CCNet perplexity gate (textstats.ngram_lm_perplexity): add-one
    bigram LM trained on the 25% curated md5 slice (the same "lmref"
    slice lm_coverage uses), per-doc mean cost in integer millibits
    (fl2 = length(bin())-1 both engines), keep the bottom-300-permille
    perplexity head by two-phase global rank. The oracle replays LM
    training (c12/c1/V), every occurrence's smoothed cost, and the
    percentile cut — a wrong count anywhere hash-fails."""
    from cola_spark.operators.textstats import ngram_lm_perplexity

    return ngram_lm_perplexity(
        _t(spark, sf, "documents"), ref_permille=250, keep_permille=300,
        hash_kind="md5",
    )


SQL_LM_PERPLEXITY = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram,
             CAST(('0x' || substr(md5('lmref:' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 1000 < 250 AS is_ref
      FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 2),
rg AS (SELECT * FROM g WHERE is_ref),
c12 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c12 FROM rg GROUP BY 1),
c1 AS (SELECT split_part(gram, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS c1
       FROM rg GROUP BY 1),
v AS (SELECT CAST(COUNT(DISTINCT split_part(gram, ' ', 2)) + 1 AS BIGINT)
        AS v FROM rg),
b AS (SELECT g.doc_id, g.is_ref,
             CAST((length(bin(COALESCE(c1.c1, 0) + v.v)) - 1)
                  - (length(bin(COALESCE(c12.c12, 0) + 1)) - 1) AS BIGINT)
               AS bits
      FROM g LEFT JOIN c12 USING (gram)
             LEFT JOIN c1 ON split_part(g.gram, ' ', 1) = c1.w1
             CROSS JOIN v),
d AS (SELECT doc_id, is_ref, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(bits) AS BIGINT) AS sum_bits,
             CAST((1000 * SUM(bits)) // COUNT(*) AS BIGINT) AS ppl_millibits
      FROM b GROUP BY 1, 2),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY ppl_millibits, doc_id)
                     AS BIGINT) AS ppl_rank
      FROM d),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM d)
SELECT doc_id, is_ref, n_bigrams, sum_bits, ppl_millibits, ppl_rank,
       ppl_rank * 1000 <= 300 * t.tot AS is_kept
FROM r CROSS JOIN t
"""


def q_bm25_search_topk(spark, sf):
    """Integer-exact BM25 top-20 (textstats.bm25_topk): the production
    ranking function over the corpus for the deterministic mid-df query
    band (df ranks 11..15 — past the ubiquitous head). k1=6/5, b=3/4 as
    cross-multiplied rationals, avgdl snapped to the integer grid, so
    both engines rank identically; TakeOrdered top-k, rank window only
    on the <=20-row shortlist."""
    from cola_spark.operators.textstats import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), skip=10, take=5, k=20)


SQL_BM25_TOPK = r"""
WITH toks AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+'))
                AS term
              FROM documents),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(dl) // COUNT(*) AS BIGINT) AS avgdl
       FROM dl),
q AS (SELECT term, df,
             ROW_NUMBER() OVER (ORDER BY df DESC, term) AS qrnk
      FROM dfq),
qt AS (SELECT term, df FROM q WHERE qrnk > 10 AND qrnk <= 15),
sc AS (SELECT tf.doc_id, dl.dl,
              ((1000 * st.n_docs) // qt.df)
              * ((44000 * st.avgdl * tf.tf)
                 // (20 * st.avgdl * tf.tf + 6 * st.avgdl + 18 * dl.dl))
                AS contrib
       FROM tf JOIN qt ON tf.term = qt.term
               JOIN dl ON tf.doc_id = dl.doc_id
               CROSS JOIN st),
pd AS (SELECT doc_id, dl, CAST(COUNT(*) AS BIGINT) AS n_q_terms,
              CAST(SUM(contrib) AS BIGINT) AS score
       FROM sc GROUP BY 1, 2),
top AS (SELECT * FROM pd ORDER BY score DESC, doc_id LIMIT 20)
SELECT doc_id, dl, n_q_terms, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
FROM top
"""


PAIRS.update({
    "cms_heavy_hitters": (q_cms_heavy_hitters, SQL_CMS_HEAVY),
    "lm_perplexity_gate": (q_lm_perplexity_gate, SQL_LM_PERPLEXITY),
    "bm25_search_topk": (q_bm25_search_topk, SQL_BM25_TOPK),
})


def _gopher_docs(spark, sf):
    """Planted Gopher-rule universe: deterministic doc_id%6 mutations of
    the documents table so every one of the seven rules fires BOTH ways
    (the base corpus is single-line lowercase word soup — unplanted, the
    bullet/ellipsis/symbol/stopword branches would be one-sided).
    Branch 1 appends four distinct stopwords (r_stop passes), 2 floods
    '#' symbols, 3 prepends two bulleted lines, 4 appends two
    '...'-terminated lines, 5 floods 30 numeral tokens (r_alpha and
    short docs' r_meanlen fail); 0 is the untouched control."""
    d = _t(spark, sf, "documents")
    nl = F.lit("\n")
    m = F.pmod("doc_id", F.lit(6))
    nums = F.lit(" 0 1 2 3 4 5 6 7 8 9" * 3)
    text2 = (
        F.when(m == 1, F.concat("text", F.lit(" of and that have")))
        .when(m == 2, F.concat("text", F.lit(" ####### ###### #####")))
        .when(
            m == 3,
            F.concat(
                F.lit("- bullet one"), nl, F.lit("- bullet two"), nl, "text"
            ),
        )
        .when(
            m == 4,
            F.concat(
                "text", nl, F.lit("trailing..."), nl, F.lit("also trailing...")
            ),
        )
        .when(m == 5, F.concat("text", nums))
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", text2.alias("text"))


def q_gopher_rules_gate(spark, sf):
    """The Gopher quality rule set (textstats.gopher_rules — Rae et al.
    2021 App. A1.1) over the planted universe: word-count bounds, mean
    word length, symbol ratio, bullet/ellipsis line fractions, alpha-
    word share, stopword presence — every rule a cross-multiplied
    integer comparison, the full per-rule decision table out. The
    NAMED rule-set gate of the Gopher/Dolma/DataComp lineage beside
    the heuristic scorer, the learned LR classifier and the LM
    perplexity gate."""
    from cola_spark.operators.textstats import gopher_rules

    return gopher_rules(_gopher_docs(spark, sf))


SQL_GOPHER_RULES = r"""
WITH pl AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 1 THEN text || ' of and that have'
           WHEN 2 THEN text || ' ####### ###### #####'
           WHEN 3 THEN '- bullet one' || chr(10) || '- bullet two'
                       || chr(10) || text
           WHEN 4 THEN text || chr(10) || 'trailing...' || chr(10)
                       || 'also trailing...'
           WHEN 5 THEN text || repeat(' 0 1 2 3 4 5 6 7 8 9', 3)
           ELSE text
         END AS text
  FROM documents),
tk AS (SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
       FROM pl),
ta AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
              CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
              CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1
                            ELSE 0 END) AS BIGINT) AS n_alpha,
              CAST(COUNT(DISTINCT CASE WHEN tok IN ('the','be','to','of',
                   'and','that','have','with') THEN tok END) AS BIGINT)
                AS n_stop
       FROM tk GROUP BY doc_id),
ln AS (SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line FROM pl),
la AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(SUM(CASE WHEN starts_with(line, '- ') THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_bullet,
              CAST(SUM(CASE WHEN ends_with(line, '...') THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_ellip_line
       FROM ln GROUP BY doc_id),
tm AS (SELECT doc_id,
              CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
                AS n_hash,
              CAST((length(text) - length(replace(text, '...', ''))) // 3
                   AS BIGINT) AS n_ellip
       FROM pl),
j AS (SELECT ta.*, la.n_lines, la.n_bullet, la.n_ellip_line,
             CAST(tm.n_hash + tm.n_ellip AS BIGINT) AS n_symbol
      FROM ta JOIN la USING (doc_id) JOIN tm USING (doc_id)),
r AS (SELECT doc_id, n_words,
             CAST((1000 * sum_len) // n_words AS BIGINT) AS mean_len_milli,
             n_alpha, n_stop, n_lines, n_bullet, n_ellip_line, n_symbol,
             n_words >= 50 AS r_words_lo,
             n_words <= 100000 AS r_words_hi,
             (1000 * sum_len) // n_words BETWEEN 3000 AND 10000 AS r_meanlen,
             n_symbol * 1000 <= n_words * 100 AS r_symbol,
             n_bullet * 1000 <= n_lines * 100 AS r_bullet,
             n_ellip_line * 1000 <= n_lines * 300 AS r_ellipsis,
             n_alpha * 1000 >= n_words * 800 AS r_alpha,
             n_stop >= 2 AS r_stop
      FROM j)
SELECT *, r_words_lo AND r_words_hi AND r_meanlen AND r_symbol AND r_bullet
          AND r_ellipsis AND r_alpha AND r_stop AS keep
FROM r
"""


PAIRS.update({"gopher_rules_gate": (q_gopher_rules_gate, SQL_GOPHER_RULES)})


def q_priority_sample(spark, sf):
    """Priority sampling of hosts by queue depth (operators/sampling.py
    priority_sample — Duffield, Lund & Thorup 2007): weight each of 97
    synthetic hosts by its frontier queue depth (order count), draw the
    weighted k=20 sample without replacement via integer priorities
    q = (w << 20) DIV (md5_hash + 1), and return the sample with its
    threshold tau and the unbiased subset-sum estimator w_hat =
    max(w, tau). The top-(k+1) cut is TakeOrderedAndProject (partial
    per-partition top-k, merge of k+1 rows); everything after it is
    config-scale. Integer-exact end to end, so DuckDB replays
    selection, tau, and the estimators bit-for-bit."""
    from cola_spark.operators.sampling import priority_sample

    o = _t(spark, sf, "orders")
    hosts = o.groupBy(
        F.concat(
            F.lit("h"), F.pmod(F.col("o_custkey"), F.lit(97)).cast("string")
        ).alias("host")
    ).agg(F.count("*").cast("long").alias("w"))
    return priority_sample(
        hosts, k=20, key_col="host", weight_col="w", hash_kind="md5",
        m_bits=20,
    )


SQL_PRIORITY_SAMPLE = f"""
WITH ks AS (SELECT 'h' || CAST(o_custkey % 97 AS VARCHAR) AS host,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM orders GROUP BY 1),
pri AS (SELECT host, w,
               CAST((w * 1048576)
                    // (({_md5i('host', 'psamp')} % 1048576) + 1)
                    AS BIGINT) AS q
        FROM ks),
rk AS (SELECT host, w, q,
              CAST(ROW_NUMBER() OVER (ORDER BY q DESC, host)
                   AS BIGINT) AS sample_rank
       FROM pri),
top AS (SELECT * FROM rk WHERE sample_rank <= 21),
tau AS (SELECT CAST(COALESCE(
                 MAX(CASE WHEN sample_rank = 21 THEN q END), 0)
               AS BIGINT) AS tau FROM top)
SELECT host, w, q, sample_rank, t.tau,
       GREATEST(w, t.tau) AS w_hat
FROM top, tau t WHERE sample_rank <= 20
"""


PAIRS.update({"priority_sample": (q_priority_sample, SQL_PRIORITY_SAMPLE)})


def q_temperature_mix(spark, sf):
    """Temperature-scaled mixture allocation, alpha = 1/2 (operators/
    sampling.temperature_alloc) over the corpus's (language x source)
    cells — the XLM-R / mT5 rebalancing rule: grant per stratum
    proportional to sqrt(n), so en's head shrinks and the tail
    languages up-sample, with SUM(granted) == 10000 exact. The isqrt
    is the guarded three-step exact form (a bare FLOOR(SQRT(x))
    overshoots near perfect squares and would hash-fail); weights,
    largest-remainder grants and per-stratum keep permilles all replay
    bit-for-bit in the oracle."""
    from cola_spark.operators.sampling import temperature_alloc

    d = _t(spark, sf, "documents")
    stats = d.groupBy(
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("stratum")
    ).agg(F.count("*").alias("n_docs"))
    return temperature_alloc(stats, 10000)


SQL_TEMPERATURE_MIX = """
WITH s AS (SELECT lang || ':' || source AS stratum,
                  CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY 1),
v AS (SELECT stratum, n_docs, n_docs * 1000000 AS x FROM s),
e0 AS (SELECT *, CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT) AS g0 FROM v),
e1 AS (SELECT *, g0 - CASE WHEN g0 * g0 > x THEN 1 ELSE 0 END AS g1 FROM e0),
w AS (SELECT stratum, n_docs,
             CAST(g1 + CASE WHEN (g1 + 1) * (g1 + 1) <= x THEN 1 ELSE 0 END
                  AS BIGINT) AS weight
      FROM e1),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w),
g AS (SELECT w.*, (10000 * weight) // t.tw AS base,
             (10000 * weight) % t.tw AS rem
      FROM w, tot t),
l AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS leftover FROM g),
r AS (SELECT g.*, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk FROM g)
SELECT stratum, n_docs, weight,
       CAST(base + CASE WHEN rk <= (SELECT leftover FROM l)
                        THEN 1 ELSE 0 END AS BIGINT) AS granted,
       CAST((1000 * (base + CASE WHEN rk <= (SELECT leftover FROM l)
                                 THEN 1 ELSE 0 END)) // n_docs
            AS BIGINT) AS sample_permille
FROM r
"""


def q_hits_hub_authority(spark, sf):
    """Integer-grid HITS (operators/linkrank.hits_scores) over a
    deterministic host graph from orders (src = o_custkey % 80,
    dst = o_orderkey % 77) — the hub/authority SPLIT next to
    host_pagerank's single score: authority ranks the fetch queue,
    hub ranks the discovery/re-parse queue. Both 2 rounds' half-steps
    (edge-keyed SUM, then sum-normalize back to the 10^6 grid) are
    unrolled in the oracle; a wrong normalization order, a missed
    no-in-edge zero, or a float hash-fails."""
    from cola_spark.operators.linkrank import hits_scores

    o = _t(spark, sf, "orders")
    e = o.select(
        (F.col("o_custkey") % 80).alias("src"),
        (F.col("o_orderkey") % 77).alias("dst"),
    )
    return hits_scores(e, iters=2)


def _sql_hits(iters: int = 2, s0: int = 1_000_000) -> str:
    ctes = [
        "e AS (SELECT DISTINCT o_custkey % 80 AS src,"
        " o_orderkey % 77 AS dst FROM orders)",
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
        f"h0 AS (SELECT host, CAST({s0} AS BIGINT) AS hub FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"ra{i} AS (SELECT dst, CAST(SUM(hub) AS BIGINT) AS ra"
            f" FROM e JOIN h{i-1} h ON e.src = h.host GROUP BY dst)"
        )
        ctes.append(
            f"ta{i} AS (SELECT CAST(SUM(ra) AS BIGINT) AS t FROM ra{i})"
        )
        ctes.append(
            f"a{i} AS (SELECT n.host, CAST(({s0} * COALESCE(ra, 0)) // t.t"
            f" AS BIGINT) AS authority FROM nodes n"
            f" LEFT JOIN ra{i} ON n.host = ra{i}.dst CROSS JOIN ta{i} t)"
        )
        ctes.append(
            f"rh{i} AS (SELECT src, CAST(SUM(authority) AS BIGINT) AS rh"
            f" FROM e JOIN a{i} a ON e.dst = a.host GROUP BY src)"
        )
        ctes.append(
            f"th{i} AS (SELECT CAST(SUM(rh) AS BIGINT) AS t FROM rh{i})"
        )
        ctes.append(
            f"h{i} AS (SELECT n.host, CAST(({s0} * COALESCE(rh, 0)) // t.t"
            f" AS BIGINT) AS hub FROM nodes n"
            f" LEFT JOIN rh{i} ON n.host = rh{i}.src CROSS JOIN th{i} t)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT h{iters}.host, h{iters}.hub, a{iters}.authority"
        + f" FROM h{iters} JOIN a{iters} ON h{iters}.host = a{iters}.host"
    )


SQL_HITS = _sql_hits()

PAIRS.update({
    "temperature_mix": (q_temperature_mix, SQL_TEMPERATURE_MIX),
    "hits_hub_authority": (q_hits_hub_authority, SQL_HITS),
})
