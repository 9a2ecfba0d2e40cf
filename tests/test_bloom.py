"""Bloom-filter invariants + bloom-backed admission, mirroring cola's
bloom tests (tests/test_bloom_filter.py): no false negatives ever, FP
rate below bound, order-independent deterministic serialization; the
scheduler runs end-to-end on the bloom blob class; the relational
bloom gate (the DuckDB-oracled form) upholds never-false-negative and
agrees between the md5 and xxhash64 hash families on plan shape.
"""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from cola_spark.filters.bloom import BloomFilter
from cola_spark.plans.scheduler import CrawlConfig, run_crawl
from cola_spark.sources import gen_budgets, gen_frontier_seeds, gen_images, gen_robots


def _keys(n, seed):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(-(2**62), 2**62, size=n, dtype=np.int64))


def test_no_false_negatives_and_fp_bound():
    keys = _keys(100_000, 1)
    f = BloomFilter(capacity=120_000)
    f.add(keys)
    assert f.contains(keys).all(), "false negative!"
    probe = np.setdiff1d(_keys(100_000, 2), keys)
    fp_rate = f.contains(probe).mean()
    # 12 bits/key (pow2-rounded up), k=6: theory < (1-e^-kn/m)^k ≈ 0.3%
    assert fp_rate < 0.01, f"FP rate {fp_rate:.5f} too high"


def test_order_independent_deterministic_blob():
    keys = _keys(5000, 3)
    a, b = BloomFilter(8000), BloomFilter(8000)
    a.add(keys)
    rng = np.random.default_rng(7)
    shuffled = keys.copy()
    rng.shuffle(shuffled)
    b.add(shuffled[:2000])  # split into unequal batches, reversed order
    b.add(shuffled[2000:])
    assert a.to_bytes() == b.to_bytes(), "blob must be a pure function of the key SET"
    c = BloomFilter.from_bytes(a.to_bytes())
    assert c.contains(keys).all()
    assert c.m_bits == a.m_bits and c.count == a.count


def test_cross_class_blob_refused():
    from cola_spark.filters.cuckoo import CuckooFilter

    f = BloomFilter(64)
    f.add(np.array([1, 2, 3], dtype=np.int64))
    with pytest.raises(ValueError):
        CuckooFilter.from_bytes(f.to_bytes())
    g = CuckooFilter(64)
    g.add(np.array([1, 2, 3], dtype=np.int64))
    with pytest.raises(ValueError):
        BloomFilter.from_bytes(g.to_bytes())


def _dense_blob(f):
    """The dense ``BLF1`` layout, built by hand: header, the whole bit array."""
    return b"BLF1" + struct.pack("<qq", f.m_bits, f.count) + f.bits.tobytes()


@pytest.mark.parametrize(
    "n_keys,tag",
    [(0, b"BLF2"), (80, b"BLF2"), (300, b"BLF2"), (1000, b"BLF1"), (4000, b"BLF1")],
    ids=["empty", "low-load", "mid-load", "at-capacity", "overfull"],
)
def test_blob_roundtrip_sized_by_keys(n_keys, tag):
    """The bit array is stored sparse (byte bitmap + non-zero bytes)
    while that is shorter — up to about half the capacity at 12
    bits/key — and dense beyond; both round-trip exactly."""
    keys = _keys(n_keys, 5) if n_keys else np.array([], dtype=np.int64)
    f = BloomFilter(1000)
    f.add(keys)
    probe = _keys(20_000, 6)
    blob = f.to_bytes()
    assert blob[:4] == tag and len(blob) <= 20 + f.m_bits // 8
    for g in (BloomFilter.from_bytes(blob), BloomFilter.from_bytes(_dense_blob(f))):
        assert np.array_equal(g.bits, f.bits) and g.bits.dtype == f.bits.dtype
        assert g.m_bits == f.m_bits and g.count == f.count
        assert g.contains(keys).all()
        assert np.array_equal(g.contains(probe), f.contains(probe))
        assert g.to_bytes() == blob


def test_empty_and_single():
    f = BloomFilter(16)
    assert f.contains(np.array([], dtype=np.int64)).shape == (0,)
    f.add(np.array([42], dtype=np.int64))
    assert f.contains(np.array([42, 43], dtype=np.int64)).tolist() == [True, False]


# ------------------------------------------------ scheduler integration

N, HOSTS, IMGS, PAGES, ROUNDS = 300, 10, 40, 20, 5


@pytest.fixture(scope="module")
def inputs(spark):
    return (
        gen_frontier_seeds(spark, N, n_hosts=HOSTS, pages_per_host=PAGES),
        gen_robots(spark, HOSTS),
        gen_budgets(spark, HOSTS),
        gen_images(spark, IMGS),
    )


def _run(spark, inputs, wd, **kw):
    seeds, robots, budgets, images = inputs
    cfg = CrawlConfig(
        workdir=wd, n_images=IMGS, pages_per_host=PAGES, max_rounds=ROUNDS,
        decode=False, **kw,
    )
    log = run_crawl(spark, seeds, robots, budgets, images, cfg)
    return [
        (r.round, r.priority, r.host, r.seq, r.url_canon, r.host_rank, r.fetch_ok)
        for r in log.orderBy("global_rank").collect()
    ]


def test_bloom_hybrid_identical_to_exact(spark, inputs, tmp_path_factory):
    exact = _run(spark, inputs, str(tmp_path_factory.mktemp("bx")))
    hybrid = _run(
        spark, inputs, str(tmp_path_factory.mktemp("bh")),
        dedup_mode="hybrid", filter_kind="bloom",
        filter_parts=8, filter_capacity=1 << 12,
    )
    assert hybrid == exact


def test_bloom_only_mode_never_readmits(spark, inputs, tmp_path_factory):
    exact = _run(spark, inputs, str(tmp_path_factory.mktemp("bx2")))
    bloom = _run(
        spark, inputs, str(tmp_path_factory.mktemp("bo")),
        dedup_mode="cuckoo", filter_kind="bloom",
        filter_parts=8, filter_capacity=1 << 12,
    )
    exact_urls = {t[4] for t in exact}
    bloom_urls = {t[4] for t in bloom}
    assert bloom_urls <= exact_urls, "bloom mode re-admitted a seen URL"
    # FP ≈ 0.3% at 12 bits/key: expect near-equality on this fixture
    assert len(bloom_urls) >= 0.98 * len(exact_urls)


# ------------------------------------------------ relational bloom gate


def test_relational_gate_never_false_negative(spark):
    from cola_spark.operators.dedup import relational_bloom_gate

    seen = spark.range(0, 4000).select(F.col("id").alias("k"))
    cands = spark.range(2000, 8000).select(F.col("id").alias("k"))
    for kind in ("md5", "xxhash64"):
        _, gated = relational_bloom_gate(
            seen, cands, "k", m_bits=1 << 12, n_parts=4, hash_kind=kind
        )
        rows = gated.collect()
        assert len(rows) == 6000
        assert all(r.maybe_seen for r in rows if r.actually_seen), (
            f"false negative in relational gate ({kind})"
        )
        assert all(
            r.false_pos == (r.maybe_seen and not r.actually_seen) for r in rows
        )
        # 4k keys * 3 / 4 parts over 4096 bits -> ~52% fill: FPs MUST
        # occur (it's a bloom, not a disguised exact check)...
        assert any(r.false_pos for r in rows)
        # ...but the overwhelming majority of unseen keys still pass
        fp = sum(r.false_pos for r in rows)
        unseen = sum(not r.actually_seen for r in rows)
        assert fp / unseen < 0.5


def test_relational_gate_plan_no_seen_broadcast(spark):
    """Plan audit: the bits relation (the big seen side at 10^10 URLs)
    must reach the probe via a shuffled equi-join — never a broadcast
    build — and the whole gate must be window-free."""
    from cola_spark.operators.dedup import relational_bloom_gate

    seen = spark.range(0, 50_000).select(F.col("id").alias("k"))
    cands = spark.range(25_000, 60_000).select(F.col("id").alias("k"))
    _, gated = relational_bloom_gate(
        seen, cands, "k", m_bits=1 << 17, n_parts=8, hash_kind="xxhash64"
    )
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # broadcasts of range-sourced frames in this plan could only be the
    # seen/bits side (the probe side is aggregated, not broadcast)
    assert "BroadcastExchange" not in plan, plan[:2000]
