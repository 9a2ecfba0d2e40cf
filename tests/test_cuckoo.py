"""Cuckoo-filter invariants, mirroring cola's bloom tests
(tests/test_bloom_filter.py): no false negatives ever, FP rate below
bound, deterministic serialization, overfull spill safety, blobs sized
by their keys and dense blobs still readable."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cola_spark.filters.cuckoo import CuckooFilter


def _keys(n, seed):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(-(2**62), 2**62, size=n, dtype=np.int64))


def test_no_false_negatives_and_fp_bound():
    keys = _keys(100_000, 1)
    f = CuckooFilter(capacity=120_000)
    f.add(np.sort(keys))
    assert f.contains(keys).all(), "false negative!"
    probe = _keys(100_000, 2)
    probe = np.setdiff1d(probe, keys)
    fp_rate = f.contains(probe).mean()
    # 16-bit fingerprints, 4-slot buckets: theory ~ 2*4/2^16 ≈ 0.012%
    assert fp_rate < 0.001, f"FP rate {fp_rate:.5f} too high"


def test_serialization_roundtrip_and_determinism():
    keys = np.sort(_keys(5000, 3))
    a, b = CuckooFilter(8000), CuckooFilter(8000)
    a.add(keys)
    b.add(keys)
    assert a.to_bytes() == b.to_bytes(), "same key set must yield same blob"
    c = CuckooFilter.from_bytes(a.to_bytes())
    assert c.contains(keys).all()
    assert c.n_buckets == a.n_buckets and c.count == a.count


def test_overfull_spills_never_false_negative():
    keys = np.sort(_keys(4000, 4))
    f = CuckooFilter(capacity=1000)  # way undersized on purpose
    f.add(keys)
    assert f.contains(keys).all(), "overfull filter dropped a key"
    assert len(f.spill) > 0, "expected spill under 4x overload"


def test_empty_and_single():
    f = CuckooFilter(16)
    assert f.contains(np.array([], dtype=np.int64)).shape == (0,)
    f.add(np.array([42], dtype=np.int64))
    assert f.contains(np.array([42, 43], dtype=np.int64)).tolist() == [True, False]


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(-(2**63), 2**63 - 1), max_size=300, unique=True))
def test_membership_property(xs):
    f = CuckooFilter(max(len(xs), 8))
    arr = np.sort(np.array(xs, dtype=np.int64)) if xs else np.array([], dtype=np.int64)
    f.add(arr)
    assert f.contains(arr).all()


def _dense_blob(f):
    """The dense ``CKF1`` layout, built by hand: header, the whole slot
    table, the sorted spilled hashes."""
    spill = np.array(sorted(f.spill), dtype=np.int64)
    return (
        b"CKF1" + struct.pack("<qqq", f.n_buckets, f.count, len(spill))
        + f.table.tobytes() + spill.tobytes()
    )


@pytest.mark.parametrize(
    "n_keys,capacity,tag",
    [(0, 1000, b"CKF2"), (80, 1000, b"CKF2"), (1800, 1000, b"CKF2"), (4000, 1000, b"CKF1")],
    ids=["empty", "low-load", "high-load", "overfull-spill"],
)
def test_blob_roundtrip_sized_by_keys(n_keys, capacity, tag):
    keys = np.sort(_keys(n_keys, 5)) if n_keys else np.array([], dtype=np.int64)
    f = CuckooFilter(capacity)
    f.add(keys)
    assert (len(f.spill) > 0) == (tag == b"CKF1"), "only the overfull case spills"
    probe = _keys(20_000, 6)
    blob = f.to_bytes()
    dense = 28 + 2 * f.table.size + 8 * len(f.spill)
    assert blob[:4] == tag and len(blob) <= dense
    for g in (CuckooFilter.from_bytes(blob), CuckooFilter.from_bytes(_dense_blob(f))):
        assert np.array_equal(g.table, f.table) and g.table.dtype == f.table.dtype
        assert g.spill == f.spill and g.count == f.count and g.n_buckets == f.n_buckets
        assert g.contains(keys).all()
        assert np.array_equal(g.contains(probe), f.contains(probe))
        assert g.to_bytes() == blob


def test_default_capacity_blob_holds_bitmap_plus_keys():
    """At the default per-part capacity a part holding 80 keys writes a
    64 KiB bitmap and 2 B per key, not the 1 MiB dense table."""
    f = CuckooFilter(1 << 18)
    f.add(np.sort(_keys(80, 7)))
    assert len(f.to_bytes()) == 28 + f.table.size // 8 + 2 * 80
