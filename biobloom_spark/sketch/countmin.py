"""Count-Min sketch — per-filter token frequency (north-rule companion).

Cormode & Muthukrishnan 2005: depth d rows × width w counters; point
estimate = min over rows; guarantee ``est <= true + eps*N`` with
probability 1-delta for ``w = ceil(e/eps)``, ``d = ceil(ln(1/delta))``.

Merge = elementwise add → associative and commutative (not idempotent, as
per the algorithm; partials must partition the data, which the maker's
per-input-partition build guarantees).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from .hashing import splitmix64

_ROW_SALTS = np.uint64(0x9E3779B97F4A7C15)


@dataclass
class CountMinSketch:
    width: int = 2048
    depth: int = 5
    table: np.ndarray = field(default=None)  # int64[depth, width]

    def __post_init__(self) -> None:
        if self.table is None:
            self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        else:
            self.table = np.asarray(self.table, dtype=np.int64).reshape(self.depth, self.width)

    @classmethod
    def for_error(cls, eps: float, delta: float) -> "CountMinSketch":
        return cls(width=int(math.ceil(math.e / eps)), depth=int(math.ceil(math.log(1.0 / delta))))

    def _rows(self, hashes: np.ndarray) -> np.ndarray:
        """(depth, n) column indices — one independent hash row per depth."""
        salts = (np.arange(1, self.depth + 1, dtype=np.uint64) * _ROW_SALTS)[:, None]
        return (splitmix64(hashes[None, :] ^ salts) % np.uint64(self.width)).astype(np.int64)

    def update_batch(self, hashes: np.ndarray, counts: np.ndarray | None = None) -> None:
        if hashes.size == 0:
            return
        if counts is None:
            counts = np.ones(hashes.shape[0], dtype=np.int64)
        cols = self._rows(hashes)
        for d in range(self.depth):
            np.add.at(self.table[d], cols[d], counts)

    def query_batch(self, hashes: np.ndarray) -> np.ndarray:
        if hashes.size == 0:
            return np.zeros(0, dtype=np.int64)
        cols = self._rows(hashes)
        ests = self.table[np.arange(self.depth)[:, None], cols]
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.width, self.depth) != (other.width, other.depth):
            raise ValueError("cannot merge CMS with different shapes")
        return CountMinSketch(width=self.width, depth=self.depth, table=self.table + other.table)

    @property
    def total(self) -> int:
        return int(self.table[0].sum())

    def error_bound(self) -> float:
        """eps*N additive bound at e/width eps."""
        return (math.e / self.width) * self.total

    def serialize(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def deserialize(cls, payload: bytes, width: int = 2048, depth: int = 5) -> "CountMinSketch":
        t = np.frombuffer(payload, dtype=np.int64).copy()
        return cls(width=width, depth=depth, table=t)
