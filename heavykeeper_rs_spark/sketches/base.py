"""Mergeable-sketch protocol shared by the whole family.

Every sketch in this library (HeavyKeeper topk, HLL, count-min, Bloom,
KLL, t-digest) is a distributive partial+final aggregate — the same
shape as the reference's build/merge/list flow
(src/heavykeeper.rs:406-457) and of Catalyst's two-phase
HashAggregateExec. The generic distributed runner lives in
operators/agg.py; anything implementing this protocol whose blob magic
is registered in ``variants.deserialize_any`` plugs in.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

import numpy as np


@runtime_checkable
class MergeableSketch(Protocol):
    def add_batch(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Fold a batch of values (object bytes/str or numeric)."""

    def merge(self, other: "MergeableSketch") -> "MergeableSketch":
        """Associative in-place union with a compatible sketch."""

    def serialize(self) -> bytes: ...

