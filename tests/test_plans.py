"""Physical-plan audits: the optimizations we rely on must actually be
in the plan (predicate pushdown to parquet, broadcast joins for small
dims, whole-stage codegen around the hot exprs)."""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in p
    # column pruning: only the needed columns in ReadSchema
    assert "o_totalprice" not in p.split("ReadSchema")[1].splitlines()[0]


def test_robots_gate_is_broadcast(spark):
    from cola_spark.operators.robots import robots_gate
    from cola_spark.sources import gen_frontier_seeds, gen_robots
    from cola_spark.operators.dedup import prepare_frontier

    fr = prepare_frontier(
        gen_frontier_seeds(spark, 1000, n_hosts=20).select("url", "priority", "seq", "force")
    )
    p = _plan(robots_gate(fr, gen_robots(spark, 20)))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_shuffle_mode_knobs_match_broadcast(spark):
    """The web-scale shuffle variants of the two per-host side-table
    joins (robots rules, budget caps) must produce the exact same rows
    as the broadcast default — the knob changes the physical plan, not
    the semantics."""
    from cola_spark.operators.budget import budget_caps, init_budget_state
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.operators.priority import schedule_cut
    from cola_spark.operators.robots import robots_gate
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_robots

    fr = prepare_frontier(
        gen_frontier_seeds(spark, 1000, n_hosts=20).select(
            "url", "priority", "seq", "force"
        )
    )
    robots = gen_robots(spark, 20)
    bc = sorted(r.url for r in robots_gate(fr, robots, broadcast=True).collect())
    sh = sorted(r.url for r in robots_gate(fr, robots, broadcast=False).collect())
    assert bc == sh and len(bc) > 0

    caps = budget_caps(init_budget_state(gen_budgets(spark, 20)))
    cut_bc = schedule_cut(fr, caps, broadcast_caps=True)
    cut_sh = schedule_cut(fr, caps, broadcast_caps=False)
    key = lambda r: (r.url, r.host_rank)
    assert sorted(map(key, cut_bc.collect())) == sorted(map(key, cut_sh.collect()))


def test_spread_shapes_row_identical(spark):
    """Both skew-spreading shapes of the shuffled gate+cut — explicit
    salted repartition (True) and window-reuse (False) — are
    physical-plan knobs only: rows must match the broadcast reference
    exactly."""
    from cola_spark.operators.budget import budget_caps, init_budget_state
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.operators.priority import schedule_cut
    from cola_spark.operators.robots import robots_gate
    from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_robots

    fr = prepare_frontier(
        gen_frontier_seeds(spark, 1500, n_hosts=20).select(
            "url", "priority", "seq", "force"
        )
    )
    robots = gen_robots(spark, 20)
    caps = budget_caps(init_budget_state(gen_budgets(spark, 20)))
    key = lambda r: (r.url, r.host_rank)

    ref_gate = robots_gate(fr, robots, broadcast=True)
    ref = sorted(map(key, schedule_cut(ref_gate, caps, broadcast_caps=True).collect()))

    for spread in (True, False):
        got = schedule_cut(
            robots_gate(fr, robots, broadcast=False),
            caps, broadcast_caps=False, spread=spread,
        )
        assert sorted(map(key, got.collect())) == ref, spread


def test_budget_caps_join_is_broadcast(spark):
    from cola_spark.operators.budget import budget_caps, init_budget_state
    from cola_spark.operators.priority import schedule_cut
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.sources import gen_budgets, gen_frontier_seeds

    fr = prepare_frontier(
        gen_frontier_seeds(spark, 1000, n_hosts=20).select("url", "priority", "seq", "force")
    )
    p = _plan(schedule_cut(fr, budget_caps(init_budget_state(gen_budgets(spark, 20)))))
    assert "BroadcastHashJoin" in p


def test_canonicalize_stays_in_codegen(spark):
    from cola_spark.functions import canonicalize_url, url_hash_col

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        url_hash_col(canonicalize_url(F.concat(F.lit("http://h.example/"), F.col("source"))))
    )
    p = _plan(df)
    # try_parse_url + higher-order array exprs are CodegenFallback in
    # Spark 4 (no WholeStageCodegen span) — the load-bearing property is
    # that the whole canonicalization is JVM-side: zero Python eval nodes
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Scan parquet" in p


def test_fetch_image_join_is_broadcast_for_small_images(spark):
    from cola_spark.operators.fetch import synthetic_fetch
    from cola_spark.operators.dedup import prepare_frontier
    from cola_spark.sources import gen_frontier_seeds, gen_images

    fr = prepare_frontier(
        gen_frontier_seeds(spark, 500, n_hosts=10).select("url", "priority", "seq", "force")
    ).withColumn("host_rank", F.lit(1))
    p = _plan(synthetic_fetch(fr, gen_images(spark, 50), 50, decode=False))
    assert "BatchEvalPython" not in p  # no-decode path is pure JVM


def test_line_dedup_census_join_not_auto_broadcast(spark):
    """line_dedup's boilerplate set is corpus-derived: Catalyst's size
    estimate must not auto-broadcast it (fine at sf0.01, an OOM at
    10^10 lines — the bloom-gate plan-bug rule). The anti-join and the
    reassembly join are pinned shuffle_hash."""
    from cola_spark.operators.textdedup import line_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(line_dedup(docs, k=8, min_docs=5))
    assert "LeftAnti" in p
    # every join over corpus-derived sides is a shuffled hash join
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p


def test_caption_retrieval_query_side_broadcast_image_norms_shuffled(spark):
    """Cross-modal retrieval: the query batch (config-scale) must
    broadcast into the dot join; the per-image norms (corpus-scale)
    must NOT auto-broadcast."""
    from cola_spark.operators.multimodal import (
        caption_text_embed,
        caption_to_image_topk,
        embedding_grid,
    )

    img = embedding_grid(spark.read.parquet(f"{SF}/embeddings.parquet"))
    cap = caption_text_embed(
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") < 8)
        .select("doc_id", "text")
    )
    p = _plan(caption_to_image_topk(cap, img, k=5))
    assert "BroadcastHashJoin" in p      # query vectors + query norms
    assert "ShuffledHashJoin" in p       # image norms join
    # the image-norm join key is image_id and it must be the shuffled one
    shj = [seg for seg in p.split("\n\n") if "ShuffledHashJoin" in seg]
    assert any("image_id" in s for s in shj)


def test_safety_gate_blocklist_broadcast(spark):
    """The host blocklist is the genuine-small-dim case: broadcast IS
    the rule there, while the per-doc unsafe counts (corpus-derived)
    join shuffled."""
    from cola_spark.operators.safety import safety_gate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(safety_gate(docs))
    assert "BroadcastHashJoin" in p
    assert "ShuffledHashJoin" in p


def test_rendezvous_route_is_pure_map_side(spark):
    """Routing must add ZERO exchanges: per-row hashes + argmax chain."""
    from cola_spark.operators.routing import rendezvous_route

    df = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_orderkey").cast("string").alias("url")
    )
    p = _plan(rendezvous_route(df))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_magic_sniff_is_pure_map_side(spark):
    from cola_spark.operators.multimodal import sniff_format

    df = spark.createDataFrame([(b"\x89PNGxx",)], "bytes binary")
    p = _plan(df.select(sniff_format(df).alias("s")))
    assert "Exchange" not in p


def test_hll_registers_one_corpus_exchange(spark):
    """The sketch pays ONE corpus exchange (the 256-key agg shuffle);
    the spine join must be broadcast, never a shuffled join of the
    corpus side."""
    from cola_spark.operators.cardinality import hll_registers

    df = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_orderkey").cast("string").alias("url")
    )
    p = _plan(hll_registers(df))
    assert "BroadcastHashJoin" in p
    # exactly one shuffle of corpus data (partial_max -> final max);
    # formatted mode puts the partitioning in an Arguments: line
    assert p.count("Arguments: hashpartitioning") == 1, p
    assert "partial_max" in p


def test_registrable_domain_suffix_dim_broadcast(spark):
    from cola_spark.operators.domains import registrable_domain

    hosts = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.concat(
            F.lit("h"), F.pmod("l_orderkey", F.lit(97)).cast("string"),
            F.lit(".example.com"),
        ).alias("host")
    )
    p = _plan(registrable_domain(hosts))
    assert "BroadcastHashJoin" in p          # suffix dim
    assert "ShuffledHashJoin" in p           # host-scale match join pinned
