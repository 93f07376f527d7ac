"""Seeded input generators. One ``--seed`` feeds every generator; the
engine only ever sees what these functions return.

Every payload is a pure function of ``(seed, key, version)``, so the
output checks can recompute the exact bytes a row should carry instead
of keeping a second copy of the data.
"""

from __future__ import annotations

import hashlib
import math
import random

import numpy as np

#: reference ingestion cap (order.js:388); rows above it are rejected
MAX_OBJECT_BYTES = 10 * 1024 * 1024

def payload(seed: int, key: int, version: int, size: int) -> bytes:
    """Incompressible, reproducible bytes for one row version."""
    return np.random.Generator(np.random.PCG64([seed, key, version])).bytes(size)


def md5(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


# -- order_api -------------------------------------------------------------


def order_id(k: int) -> str:
    return f"o-{k:08d}"  # zero-padded: string order == numeric order


def order_row(seed: int, k: int, version: int, blob_bytes: int) -> tuple:
    desc = f"order {k} v{version}"[:30]
    return (order_id(k), desc, payload(seed, k, version, blob_bytes))


class Zipf:
    """Bounded Zipf(s) sampler over ranks 0..n-1 (rank 0 hottest)."""

    def __init__(self, n: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w / w.sum())

    def sample(self, rng: random.Random) -> int:
        return int(min(np.searchsorted(self.cdf, rng.random()), len(self.cdf) - 1))


#: one order_api block: 7 reads + 3 writes, shuffled per block
ORDER_BLOCK = (
    "list", "list", "list_after", "list_after", "get", "get", "get_blob",
    "create", "update", "delete",
)


# -- migrate_bulk ----------------------------------------------------------


def legacy_sizes(seed: int, n_rows: int, median_bytes: int, sigma: float,
                 n_oversize: int, n_parts: int) -> list[int]:
    """Log-normal blob sizes (long tail toward ~1 MB records, capped at
    4 MB) plus ``n_oversize`` rows just over the 10 MB cap, listed by
    ``seq``. The sizes are the distribution's quantiles, dealt in turn
    to ``n_parts`` equal ``seq`` ranges, so every seed migrates the same
    bytes and every range-partitioned scan task gets the same share; the
    seed decides which row of a range carries which size, and the bytes."""
    from statistics import NormalDist

    z = NormalDist()
    sizes = [MAX_OBJECT_BYTES + 1 + i for i in range(n_oversize)] + sorted(
        (
            min(4 * 1024 * 1024,
                int(median_bytes * math.exp(sigma * z.inv_cdf((i + 0.5) / n_rows))))
            for i in range(n_rows - n_oversize)
        ),
        reverse=True,
    )
    rng = random.Random(seed)
    out = []
    for part in range(n_parts):
        mine = sizes[part::n_parts]
        rng.shuffle(mine)
        out += mine
    return out


def legacy_row(seed: int, seq: int, size: int) -> tuple:
    return (seq, f"id-{seq:07d}", f"legacy order {seq}"[:30], payload(seed, seq, 0, size))
