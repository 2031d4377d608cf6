"""Order-independent checksum of a pixel table.

The sum, modulo 2^64, of one 64-bit hash per row ``(t, j, i, value)``,
with values rounded to 6 decimals (NaN hashes as its own token).  Row
order does not matter, so a result collected from any number of
partitions checks the same; a wrong value, a misplaced pixel, or a
dropped or duplicated row changes it.
"""

from __future__ import annotations

import numpy as np

_NAN = np.int64(-(2 ** 62))
_M = 0xFFFFFFFFFFFFFFFF


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over uint64 arrays (wrapping arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def pixels(t, j, i, values) -> str:
    """Checksum of the rows ``(t[k], j[k], i[k], values[k])`` as 16 hex
    digits."""
    v = np.asarray(values, dtype=np.float64)
    q = np.where(np.isnan(v), _NAN,
                 np.round(np.nan_to_num(v) * 1e6).astype(np.int64))
    h = np.zeros(len(v), dtype=np.uint64)
    for col in (t, j, i, q):
        h = _mix(h ^ np.asarray(col, dtype=np.int64).astype(np.uint64))
    return f"{int(h.sum(dtype=np.uint64)) & _M:016x}"
