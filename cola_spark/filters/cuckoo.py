"""Partitioned cuckoo filter — the reference's bloom seen-set
(cola/core/bloomfilter.py ~L1-120: k sha/md5-derived slices over a bit
array, file-persisted; wrapped by Deduper.exist_or_add) re-expressed as
per-partition binary blobs keyed by pmod(url_hash, P).

Why cuckoo over bloom (north rule names it): same never-false-negative
guarantee, comparable space (~2.5 B/key at 16-bit fingerprints), but
supports deletion and — crucially for us — cheap set-union-free
*partitioned* operation: each Spark partition owns an independent
filter blob, updated locally via applyInPandas with zero shuffle of the
seen set. At the 10^10-URL design point that's ~25 GB of blobs spread
over P partitions instead of a multi-TB exact table shuffled per round.

Semantics mirror bloom/cola: `contains` may false-positive (a never-
seen URL can be dropped) but never false-negatives (a seen URL is never
re-admitted). Overfull filters spill fingerprints... no — overfull
filters spill exact *hashes* to a side array serialized with the blob,
preserving the no-false-negative guarantee unconditionally.

Blob layout: ``CKF2`` or ``CKF1``, then (n_buckets, count, n_spill) as
three little-endian int64, then the slot table, then the sorted spilled
hashes as int64. ``CKF2`` stores the table as an occupancy bitmap
(one bit per slot) followed by the occupied 16-bit fingerprints;
``CKF1`` stores it dense, 2 bytes per slot. ``to_bytes`` writes the
shorter of the two (filters/sparse.py), so a blob costs
n_slots/8 + 2 B per stored key until the table is ~94% full, and never
more than the dense table: at the default capacity 64 KiB + 2 B/key
instead of a fixed 1 MiB. ``from_bytes`` reads both tags, so a workdir
written in the dense layout resumes.

Determinism: hash mixing is fixed (splitmix64 constants), bucket count
is a power of two fixed at construction, and callers insert in sorted
key order — so blob bytes are a pure function of the key set.

All operations are numpy-vectorized over int64 arrays; the kick loop
touches only colliding items.
"""

from __future__ import annotations

import struct

import numpy as np

from cola_spark.filters.sparse import pack, unpack

_MAGIC = b"CKF1"  # dense slot table
_MAGIC_SPARSE = b"CKF2"  # occupancy bitmap + occupied fingerprints
SLOTS = 4  # slots per bucket
MAX_KICKS = 250


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates bucket index from fingerprint."""
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


class CuckooFilter:
    def __init__(self, capacity: int):
        """capacity: expected max keys; sized to ~84% max load."""
        nb = 1
        while nb * SLOTS * 0.84 < capacity:
            nb *= 2
        self.n_buckets = nb
        self.table = np.zeros((nb, SLOTS), dtype=np.uint16)
        self.spill: set[int] = set()
        self.count = 0

    # --- key decomposition -------------------------------------------------
    def _parts(self, hashes: np.ndarray):
        h = _mix(np.asarray(hashes, dtype=np.int64).view(np.uint64))
        fp = (h & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks empty slot
        i1 = ((h >> np.uint64(16)) % np.uint64(self.n_buckets)).astype(np.int64)
        alt = _mix(fp.astype(np.uint64)) % np.uint64(self.n_buckets)
        i2 = (i1 ^ alt.astype(np.int64)) % self.n_buckets
        return fp, i1, i2

    def _alt_index(self, i: int, fp: int) -> int:
        alt = int(_mix(np.array([fp], dtype=np.uint64))[0] % np.uint64(self.n_buckets))
        return (i ^ alt) % self.n_buckets

    # --- queries -----------------------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64)
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._parts(hashes)
        hit = (self.table[i1] == fp[:, None]).any(axis=1) | (
            self.table[i2] == fp[:, None]
        ).any(axis=1)
        if self.spill:
            spilled = np.fromiter(
                (int(x) in self.spill for x in hashes), dtype=bool, count=len(hashes)
            )
            hit |= spilled
        return hit

    # --- updates -----------------------------------------------------------
    def add(self, hashes: np.ndarray) -> None:
        """Insert keys (caller dedups/sorts for determinism)."""
        hashes = np.asarray(hashes, dtype=np.int64)
        fp, i1, i2 = self._parts(hashes)
        for k in range(len(hashes)):
            self._insert_one(int(fp[k]), int(i1[k]), int(i2[k]), int(hashes[k]))
        self.count += len(hashes)

    def _insert_one(self, fp: int, i1: int, i2: int, raw: int) -> None:
        for i in (i1, i2):
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        # kick loop; record the swap chain so a failed insert can be
        # reverted — otherwise the final displaced fingerprint would be
        # silently dropped, a false negative for whichever key owned it
        i = i1
        rng = np.random.default_rng(fp ^ (i1 * 0x9E3779B9) & 0xFFFFFFFF)  # deterministic
        chain: list[tuple[int, int]] = []
        for _ in range(MAX_KICKS):
            slot = int(rng.integers(0, SLOTS))
            chain.append((i, slot))
            fp, self.table[i, slot] = int(self.table[i, slot]), fp
            i = self._alt_index(i, fp)
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        # filter full: revert the swap chain and spill the raw key —
        # membership stays exact for every previously inserted key
        for i, slot in reversed(chain):
            fp, self.table[i, slot] = int(self.table[i, slot]), fp
        self.spill.add(raw)

    # --- serialization -----------------------------------------------------
    def to_bytes(self) -> bytes:
        spill = np.fromiter(self.spill, dtype=np.int64, count=len(self.spill))
        spill.sort()
        sparse, table = pack(self.table)
        return (
            (_MAGIC_SPARSE if sparse else _MAGIC)
            + struct.pack("<qqq", self.n_buckets, self.count, len(spill))
            + table
            + spill.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        if data[:4] not in (_MAGIC, _MAGIC_SPARSE):
            raise ValueError("not a cuckoo filter blob")
        nb, count, n_spill = struct.unpack_from("<qqq", data, 4)
        f = cls.__new__(cls)
        f.n_buckets = nb
        f.count = count
        table, off = unpack(data, 4 + 24, nb * SLOTS, np.uint16, data[:4] == _MAGIC_SPARSE)
        f.table = table.reshape(nb, SLOTS)
        f.spill = set(np.frombuffer(data, dtype=np.int64, count=n_spill, offset=off).tolist())
        return f
