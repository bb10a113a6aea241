"""HyperLogLog (dense) — approximate distinct count as a mergeable sketch.

From-scratch per the HLL/HLL++ papers (Flajolet et al. 2007; Heule et
al. 2013): 2^p uint8 registers; register j = max over items of
(#leading zeros of the suffix bits + 1); merge = elementwise max;
estimate = alpha_m * m^2 / sum(2^-reg) with linear counting for the
small range. Vectorized: one hash pass + np.maximum.at per batch.

Standard error ~ 1.04/sqrt(2^p); p=14 (16 KiB) → ~0.81%.
Cross-checked in tests against exact COUNT(DISTINCT) and Spark's
built-in approx_count_distinct.
"""

from __future__ import annotations


from ..serde import dumps as serde_dumps, loads as serde_loads

import numpy as np

from ..kernel import hash_as_text

_KIND = b"HLL1"


class HLL:
    def __init__(self, p: int = 14, seed: int = 12345) -> None:
        if not 4 <= p <= 18:
            raise ValueError(f"p must be in [4,18], got {p}")
        self.p = p
        self.m = 1 << p
        self.seed = seed
        self.regs = np.zeros(self.m, dtype=np.uint8)

    def add_batch(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        if len(values) == 0:
            return
        h = hash_as_text(values, self.seed)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        suffix = h << np.uint64(self.p) | np.uint64(1 << (self.p - 1))
        # rho = leading zeros of suffix + 1, computed via bit_length:
        # 64 - floor(log2(suffix)) ; suffix has a guard bit so never 0
        bl = np.zeros(len(h), dtype=np.int64)
        x = suffix.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            big = x >> np.uint64(shift)
            has = big > 0
            bl[has] += shift
            x = np.where(has, big, x)
        rho = (64 - bl).astype(np.uint8)  # in [1, 64-p+1]
        np.maximum.at(self.regs, idx, rho)

    def merge(self, other: "HLL") -> "HLL":
        if (self.p, self.seed) != (other.p, other.seed):
            raise ValueError("incompatible HLL (p/seed)")
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    def estimate(self) -> float:
        m = float(self.m)
        if self.m >= 128:
            alpha = 0.7213 / (1 + 1.079 / m)
        elif self.m == 64:
            alpha = 0.709
        elif self.m == 32:
            alpha = 0.697
        else:
            alpha = 0.673
        inv = np.exp2(-self.regs.astype(np.float64)).sum()
        e = alpha * m * m / inv
        zeros = int((self.regs == 0).sum())
        if e <= 2.5 * m and zeros > 0:
            return m * np.log(m / zeros)  # linear counting
        return float(e)

    def serialize(self) -> bytes:
        return _KIND + serde_dumps({"p": self.p, "seed": self.seed, "regs": self.regs})

    @classmethod
    def deserialize(cls, blob: bytes) -> "HLL":
        if blob[:4] != _KIND:
            raise ValueError("not an HLL blob")
        d = serde_loads(blob[4:])
        sk = cls(d["p"], d["seed"])
        sk.regs = d["regs"]
        return sk
