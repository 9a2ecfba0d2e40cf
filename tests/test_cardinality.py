"""HyperLogLog sketch: replay, mergeability, accuracy, regimes."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from cola_spark.operators.cardinality import (
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _urls(spark, n, prefix="u"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url")
    )


def _py_registers(keys, m=256, rmax=40):
    regs = [0] * m
    for k in keys:
        h = int(hashlib.md5(f"hll:{k}".encode()).hexdigest()[:15], 16)
        b, w = h % m, h // m
        r = 53 if w == 0 else min((w ^ (w - 1)).bit_count(), 53)
        regs[b] = max(regs[b], min(r, rmax))
    return regs


def test_registers_match_sequential_replay(spark):
    keys = [f"u{i}" for i in range(5000)]
    got = {
        r.bucket: r.register
        for r in hll_registers(_urls(spark, 5000)).collect()
    }
    exp = _py_registers(keys)
    assert [got[b] for b in range(256)] == exp


def test_merge_equals_sketch_of_union(spark):
    a = hll_registers(_urls(spark, 3000))
    b = hll_registers(_urls(spark, 3000, prefix="v"))
    merged = {r.bucket: r.register for r in hll_merge(a, b).collect()}
    union = {
        r.bucket: r.register
        for r in hll_registers(
            _urls(spark, 3000).unionByName(_urls(spark, 3000, prefix="v"))
        ).collect()
    }
    assert merged == union


def test_estimate_within_three_sigma(spark):
    # sigma ~= 1.04/sqrt(256) = 6.5%; duplicates must not inflate it
    u = _urls(spark, 20000).unionByName(_urls(spark, 20000))
    est = hll_estimate(hll_registers(u)).collect()[0].est
    assert abs(est - 20000) / 20000 < 0.20


def test_empty_input_gives_raw_floor_not_zero(spark):
    # no linear-counting correction by design: all-zero registers give
    # the documented raw floor alpha*m = 183, and n_empty exposes the
    # small-range regime to the caller
    row = hll_estimate(
        hll_registers(_urls(spark, 0))
    ).collect()[0]
    assert row.n_empty == 256 and row.est == 183


def test_xxhash64_family_estimates_too(spark):
    est = hll_estimate(
        hll_registers(_urls(spark, 10000), hash_kind="xxhash64")
    ).collect()[0].est
    assert abs(est - 10000) / 10000 < 0.20


def test_streaming_cardinality_accumulator(spark, tmp_path):
    """foreachBatch HLL: streamed estimate == batch estimate of the
    union; a replayed batch is absorbed (idempotent max); compaction
    and a fresh handler on the same workdir preserve the registers."""
    import pyspark.sql.functions as F  # noqa: N812

    from cola_spark.streaming.foreach_batch import StreamingCardinality

    src = str(tmp_path / "drops")
    wd = str(tmp_path / "wd")
    ckpt = str(tmp_path / "ckpt")
    for b in range(3):
        _urls(spark, 4000, prefix=f"b{b}_").write.mode("overwrite").parquet(
            f"{src}/drop={b}"
        )
    acc = StreamingCardinality(spark, wd)
    stream = spark.readStream.schema("url string").parquet(src + "/drop=*")
    acc.attach(stream, ckpt).awaitTermination(120)

    union = _urls(spark, 4000, prefix="b0_")
    for b in (1, 2):
        union = union.unionByName(_urls(spark, 4000, prefix=f"b{b}_"))
    batch_regs = {
        r.bucket: r.register for r in hll_registers(union).collect()
    }
    stream_regs = {r.bucket: r.register for r in acc.registers().collect()}
    assert stream_regs == batch_regs
    est = acc.estimate_row()
    assert abs(est.est - 12000) / 12000 < 0.20

    # at-least-once replay: re-running a batch changes nothing
    acc.process_batch(_urls(spark, 4000, prefix="b1_"), 1)
    assert {
        r.bucket: r.register for r in acc.registers().collect()
    } == batch_regs

    # compaction folds deltas, registers unchanged; a fresh handler
    # on the same workdir reads the same state (restart continuity)
    acc.compact()
    assert acc._dirs() == [f"{wd}/hll/compacted=0"]
    acc2 = StreamingCardinality(spark, wd)
    assert {
        r.bucket: r.register for r in acc2.registers().collect()
    } == batch_regs


def test_streaming_cardinality_compaction_crash_keeps_registers(spark, tmp_path, monkeypatch):
    """A crash in compact()'s removal step, after the fold is written
    and one folded dir is gone, leaves dirs whose max-merge is still
    the committed registers; the next compact() folds them into one."""
    import shutil

    from cola_spark.streaming.foreach_batch import StreamingCardinality

    wd = str(tmp_path / "wd")
    acc = StreamingCardinality(spark, wd)
    for b in range(3):
        acc.process_batch(_urls(spark, 500, prefix=f"b{b}_"), b)
    before = {r.bucket: r.register for r in acc.registers().collect()}

    rmtree = shutil.rmtree

    def crash_after_first_removal(path, *args, **kwargs):
        rmtree(path, *args, **kwargs)
        raise RuntimeError("crash in the removal step")

    monkeypatch.setattr(shutil, "rmtree", crash_after_first_removal)
    with pytest.raises(RuntimeError, match="removal"):
        acc.compact()
    monkeypatch.undo()
    assert {r.bucket: r.register for r in acc.registers().collect()} == before
    # a crash inside a fold's write leaves a dir with no data files yet
    os.makedirs(f"{wd}/hll/compacted=9/_temporary/0")
    assert {r.bucket: r.register for r in acc.registers().collect()} == before

    acc.compact()
    assert len(acc._dirs()) == 1
    assert {r.bucket: r.register for r in acc.registers().collect()} == before
