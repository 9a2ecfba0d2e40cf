"""Partitioned Bloom filter — the reference's seen-set verbatim
(cola/core/bloomfilter.py ~L1-120: k hash-derived bit positions over a
bit array, file-persisted; wrapped by Deduper.exist_or_add), beside the
cuckoo variant in cola_spark.filters.cuckoo.

Interface-compatible with CuckooFilter (``__init__(capacity)``,
``contains``, ``add``, ``to_bytes``/``from_bytes``) so
operators.dedup.admit_filtered can plug either via ``filter_cls``.

Trade-off vs the cuckoo (which the north rule also names): the bloom
is OR-only — its bit array is a pure function of the key SET regardless
of insertion order or batch split (the cuckoo needs sorted inserts for
that), it never degrades past capacity (FP rate rises smoothly instead
of spilling), and add/contains are branch-free vectorized ops. It gives
up deletion and runs ~12 bits/key vs the cuckoo's ~20 (16-bit
fingerprints at 84% load + slack); at the 10^10-URL design point that
is ~15 GB of blobs spread over P partitions.

Semantics (bloom/cola): ``contains`` may false-positive (a never-seen
URL can be dropped in filter-only mode, or routed to exact verification
in hybrid mode) but never false-negatives — a seen URL is never
re-admitted.

Blob layout: ``BLF2`` or ``BLF1``, then (m_bits, count) as two
little-endian int64, then the bit array. ``BLF2`` stores it as an
occupancy bitmap over its bytes followed by the non-zero bytes;
``BLF1`` stores it dense. ``to_bytes`` writes the shorter of the two
(filters/sparse.py, the cuckoo blob's rule): at the default capacity
64 KiB + at most K bytes per key instead of a fixed 512 KiB while the
filter holds up to about half its capacity, the dense array beyond.
``from_bytes`` reads both tags.

Determinism: k fixed seeds into the splitmix64 finalizer, bit count a
power of two fixed at construction; blob bytes are a pure function of
the inserted key set (order-independent — OR is commutative).
"""

from __future__ import annotations

import struct

import numpy as np

from cola_spark.filters.sparse import pack, unpack

_MAGIC = b"BLF1"  # dense bit array
_MAGIC_SPARSE = b"BLF2"  # occupancy bitmap over bytes + non-zero bytes
K = 6  # hash functions; with ~12 bits/key -> FP ~ 0.5^6*... ≈ 0.4%
_BITS_PER_KEY = 12
# fixed odd seeds decorrelating the k probes (digits of pi/e mixes)
_SEEDS = (
    0x243F6A8885A308D3,
    0x13198A2E03707345,
    0xA4093822299F31D1,
    0x082EFA98EC4E6C89,
    0x452821E638D01377,
    0xBE5466CF34E90C6C,
)


def _mix(h: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer over seed-xored keys — one independent
    probe stream per seed."""
    h = h.astype(np.uint64, copy=True) ^ np.uint64(seed)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


class BloomFilter:
    def __init__(self, capacity: int):
        """capacity: expected max keys; sized to ~12 bits/key (pow2)."""
        m = 64
        while m < capacity * _BITS_PER_KEY:
            m *= 2
        self.m_bits = m
        self.bits = np.zeros(m // 8, dtype=np.uint8)
        self.count = 0

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        pos = np.empty((len(h), K), dtype=np.int64)
        for j in range(K):
            pos[:, j] = (_mix(h, _SEEDS[j]) % np.uint64(self.m_bits)).astype(
                np.int64
            )
        return pos

    # --- queries -----------------------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64)
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(hashes)
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=1)

    # --- updates -----------------------------------------------------------
    def add(self, hashes: np.ndarray) -> None:
        """Insert keys. Order-independent (OR-only); duplicates are
        harmless."""
        hashes = np.asarray(hashes, dtype=np.int64)
        if len(hashes) == 0:
            return
        pos = self._positions(hashes).ravel()
        np.bitwise_or.at(
            self.bits, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8))
        )
        self.count += len(hashes)

    # --- serialization -----------------------------------------------------
    def to_bytes(self) -> bytes:
        sparse, bits = pack(self.bits)
        return (
            (_MAGIC_SPARSE if sparse else _MAGIC)
            + struct.pack("<qq", self.m_bits, self.count)
            + bits
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        if data[:4] not in (_MAGIC, _MAGIC_SPARSE):
            raise ValueError("not a bloom filter blob")
        m_bits, count = struct.unpack_from("<qq", data, 4)
        f = cls.__new__(cls)
        f.m_bits = m_bits
        f.count = count
        f.bits, _ = unpack(data, 4 + 16, m_bits // 8, np.uint8, data[:4] == _MAGIC_SPARSE)
        return f
