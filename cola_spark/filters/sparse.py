"""The one layout rule of the filter blobs: a flat array is stored either
dense (``a.tobytes()``) or sparse — the occupancy bitmap
``np.packbits(a != 0)`` followed by the non-zero values in index order
— whichever is shorter. A sparse payload costs n/8 bytes plus the
non-zero values, so a filter holding few keys writes a blob sized by
its keys, not by its configured capacity, and a blob is never larger
than its dense form. Both forms are a pure function of the array.
"""

from __future__ import annotations

import numpy as np


def pack(a: np.ndarray) -> tuple[bool, bytes]:
    """(sparse, payload) for the flat array ``a``."""
    a = a.ravel()
    occupied = a != 0
    n_nz = int(np.count_nonzero(occupied))
    if (len(a) + 7) // 8 + n_nz * a.itemsize >= a.nbytes:
        return False, a.tobytes()
    return True, np.packbits(occupied).tobytes() + a[occupied].tobytes()


def unpack(data: bytes, offset: int, n: int, dtype, sparse: bool) -> tuple[np.ndarray, int]:
    """The inverse of ``pack``: the n-value array stored at ``offset``,
    and the offset just past its payload."""
    dtype = np.dtype(dtype)
    if not sparse:
        a = np.frombuffer(data, dtype=dtype, count=n, offset=offset).copy()
        return a, offset + n * dtype.itemsize
    n_bitmap = (n + 7) // 8
    bitmap = np.frombuffer(data, dtype=np.uint8, count=n_bitmap, offset=offset)
    occupied = np.unpackbits(bitmap, count=n).astype(bool)
    n_nz = int(np.count_nonzero(occupied))
    a = np.zeros(n, dtype=dtype)
    a[occupied] = np.frombuffer(data, dtype=dtype, count=n_nz, offset=offset + n_bitmap)
    return a, offset + n_bitmap + n_nz * dtype.itemsize
