"""Count-Min sketch — mergeable frequency estimator.

From scratch per Cormode & Muthukrishnan 2005: depth x width int64
counters, item increments one counter per row (index via the same
hash-composition scheme as the HeavyKeeper kernel,
src/hash_composition.rs:35-44); estimate = min over rows; merge =
elementwise add. Guarantees: est >= true, and
P(est > true + e*N) <= delta with width = ceil(e/eps), depth =
ceil(ln(1/delta)).

Vectorized: one hash pass, np.add.at per row. Cross-checked in tests
against exact counts and Spark's df.stat.countMinSketch surface.
"""

from __future__ import annotations


from ..serde import dumps as serde_dumps, loads as serde_loads

import numpy as np

from ..kernel import compose_indices, hash_as_text
from ..native import collapse

_KIND = b"CMS1"


class CountMin:
    def __init__(self, width: int = 2048, depth: int = 5, seed: int = 12345) -> None:
        if width < 1 or depth < 1:
            raise ValueError("width/depth must be >= 1")
        self.width = width
        self.depth = depth
        self.seed = seed
        self.table = np.zeros((depth, width), dtype=np.int64)
        self.total = 0

    def add_batch(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        if len(values) == 0:
            return
        uh, _, total = collapse(hash_as_text(values, self.seed), weights)
        w = total.astype(np.int64)
        idxs = compose_indices(uh, self.depth, self.width)
        for d in range(self.depth):
            np.add.at(self.table[d], idxs[d], w)
        self.total += int(w.sum())

    def estimate(self, values: np.ndarray) -> np.ndarray:
        h = hash_as_text(values, self.seed)
        idxs = compose_indices(h, self.depth, self.width)
        est = self.table[0][idxs[0]].copy()
        for d in range(1, self.depth):
            np.minimum(est, self.table[d][idxs[d]], out=est)
        return est

    def merge(self, other: "CountMin") -> "CountMin":
        if (self.width, self.depth, self.seed) != (other.width, other.depth, other.seed):
            raise ValueError("incompatible CountMin (width/depth/seed)")
        self.table += other.table
        self.total += other.total
        return self

    def serialize(self) -> bytes:
        return _KIND + serde_dumps(
            {
                "width": self.width,
                "depth": self.depth,
                "seed": self.seed,
                "table": self.table,
                "total": self.total,
            }
        )

    @classmethod
    def deserialize(cls, blob: bytes) -> "CountMin":
        if blob[:4] != _KIND:
            raise ValueError("not a CountMin blob")
        d = serde_loads(blob[4:])
        sk = cls(d["width"], d["depth"], d["seed"])
        sk.table = d["table"]
        sk.total = d["total"]
        return sk
