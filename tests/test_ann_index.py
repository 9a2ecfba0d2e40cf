"""Persisted trained-ANN index (VERDICT r4 #3): train → save → load in
a FRESH session → serve with zero retraining, identical results; works
on both StateIO backends."""

import pytest
from pyspark.sql import functions as F

from cola_spark.operators.ann_index import load_ann_index, save_ann_index
from cola_spark.operators.similarity import brute_force_topk, ivfpq_topk, pq_topk
from cola_spark.session import _MEMO
from cola_spark.stateio import LocalStateIO, ObjectStoreStateIO

SF = "/root/testdata/sf0.001"
GEO = dict(n_sub=32, n_codes=64, sub_dim=2, train_iters=2)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _trips(df):
    return sorted((r.query_id, r.neighbor_id, r.rank) for r in df.collect())


def test_save_load_serve_pq_exact_match(spark, emb, tmp_path):
    """Saved index served from a FRESH SparkSession reproduces the
    in-session trained pq_topk exactly — ADC-only, and with the exact
    refine stage (ann_pq_refine_topk shape, == brute force)."""
    path = str(tmp_path / "annidx")
    io = LocalStateIO()
    m = save_ann_index(emb, path, io=io, **GEO)
    assert m["rev"] == 0 and m["n_vectors"] == emb.count()

    q = emb.filter(F.col("vec_id") < 10)
    want_adc = _trips(pq_topk(q, emb, k=5, **GEO))
    want_ref = _trips(pq_topk(q, emb, k=5, rerank=30, **GEO))
    want_brute = _trips(brute_force_topk(q, emb, k=5))
    assert want_ref == want_brute  # refine == exact at this scale

    fresh = spark.newSession()
    assert fresh is not spark
    idx = load_ann_index(fresh, path, io=io)
    q2 = fresh.read.parquet(f"{SF}/embeddings.parquet").filter(F.col("vec_id") < 10)
    assert _trips(idx.topk(q2, k=5)) == want_adc
    assert _trips(idx.topk(q2, k=5, rerank=30)) == want_ref
    # zero retraining: the fresh session never populated the session memo
    assert fresh not in _MEMO


def test_save_load_serve_ivfpq_on_objectstore(spark, emb, tmp_path):
    """IVF+PQ variant committed through ObjectStoreStateIO (no dirs,
    prefix listing, atomic single-object manifest PUT): served probes
    match the in-session ivfpq_topk; a re-save bumps the rev, sweeps
    the old one, and the manifest stays the commit point."""
    path = str(tmp_path / "annidx_os")
    io = ObjectStoreStateIO()
    save_ann_index(emb, path, n_cells=8, io=io, **GEO)

    q = emb.filter(F.col("vec_id") < 10)
    want = _trips(ivfpq_topk(q, emb, k=5, n_cells=8, nprobe=2, **GEO))
    idx = load_ann_index(spark.newSession(), path, io=io)
    got = _trips(idx.topk(q, k=5, nprobe=2))
    assert got == want

    m2 = save_ann_index(emb, path, n_cells=8, io=io, **GEO)
    assert m2["rev"] == 1
    assert io.list_dirs(f"{path}/rev=*") == [f"{path}/rev=1"]
    idx2 = load_ann_index(spark, path, io=io)
    assert _trips(idx2.topk(q, k=5, nprobe=2)) == want


def test_load_refuses_uncommitted_index(spark, tmp_path):
    """Components without a manifest are an UNCOMMITTED save — loading
    must fail, not serve a half-written index."""
    with pytest.raises(FileNotFoundError):
        load_ann_index(spark, str(tmp_path / "nothing"), io=LocalStateIO())
