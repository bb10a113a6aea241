"""BucketedTopK and CuckooTopK — the reference's two alternative sketch
layouts, re-implemented from scratch. README.md:48-51: all three
variants expose the same API, and here it is one body: both subclass
``kernel._TopKSketch``, as ``kernel.HeavyKeeper`` does, and supply only
their cells (``_add_core``, ``_count``, ``_state_dict``), their cell
union and their HKB1/HKC1 serde codec.

- BucketedTopK (src/bucketed.rs): one hash → one bucket of ``depth``
  contiguous cells. add: fingerprint match → saturating add; else
  first empty cell → install; else decay-duel the bucket's MINIMUM
  cell (src/bucketed.rs:187-258, 452-476). Merge: per-bucket union by
  fingerprint with min-count eviction when full and the incoming count
  is larger (src/bucketed.rs:403-445).
- CuckooTopK (src/cuckoo.rs): per bucket one probabilistic-decay
  "lobby" cell plus ``depth`` non-decaying heavy slots; a heavy item
  lives in one of two cuckoo candidate buckets
  (src/cuckoo.rs:560-580). add: heavy hit → pure saturating increment
  (no decay, src/cuckoo.rs:258-261); miss → lobby duel at the primary
  bucket; a lobby winner promotes into an empty heavy slot in either
  candidate bucket, else evicts the min heavy occupant if strictly
  heavier, relocating the victim through a ≤max_kicks chain
  (src/cuckoo.rs:653-707). Merge folds lobby↔heavy so an item lives in
  heavy XOR lobby (src/cuckoo.rs:471-549); merges are deterministic —
  no probabilistic decay during merge.

Both merge their candidates by ``kernel.merge_candidates``, the rule
the canonical kernel uses: a key tracked on one side only takes the
other side's pre-merge cell estimate as its fallback, as the reference
does, but admission is now DEFERRED until after the cell union, at the
larger of that value and the merged cells — unlike
src/bucketed.rs:377-401, which upserts each candidate immediately,
before the union, so a boundary key can be evicted on a stale value in
a merge tree. Blobs decode their candidates through the same checked
``kernel._load_cand``.

Execution strategy: a batch collapses to its distinct keys, heaviest
first (``kernel.preaggregate``, shared with the canonical kernel), and
one native loop adds them one item after another. Bucketed runs
``native.bucketed_add`` (first match, else first empty, else the first
minimum cell's decay duel); Cuckoo runs ``native.cuckoo_add`` (heavy
hit, else lobby duel, else promotion with its kick chain), and its
merge runs ``native.cuckoo_merge_heavy`` over the other sketch's heavy
cells before one vectorized fold of its lobbies. Both candidate
buckets come from ``native.cuckoo_pairs``, the one ``bucket_pair``. The
canonical depth-row HeavyKeeper (kernel.py) remains the default; these
variants trade some speed for their accuracy profiles (BASELINE.md:
Bucketed/Cuckoo recall 0.985 / 1.000 vs 0.942).
"""

from __future__ import annotations

import dataclasses

import numpy as np

from . import native
from .errors import SketchCompatError
from .serde import dumps as serde_dumps, loads as serde_loads
from .kernel import (
    _MAGIC,
    HeavyKeeper,
    HKParams,
    _duel_params,
    _load_cand,
    _sniff_legacy_pickle,
    _TopKSketch,
    merge_candidates,
)
from .sketches import bloom, cms, hll, kll, tdigest

_U64 = np.uint64
_PARAMS = frozenset(f.name for f in dataclasses.fields(HKParams))


class _VariantBase(_TopKSketch):
    """The two variant layouts' shared constructor, merge and serde
    codec; the API itself is ``kernel._TopKSketch``'s."""

    variant: bytes = b"????"

    def __init__(
        self,
        k: int,
        width: int,
        depth: int,
        decay: float = 0.9,
        seed: int = 12345,
        rng: np.random.Generator | None = None,
    ) -> None:
        super().__init__(HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed), rng)

    def merge(self, other):
        """In-place union: the layout's cell union inside the shared
        candidate rule (``kernel.merge_candidates``)."""
        self._check_compat(other)
        merge_candidates(
            self.pq, list(other.pq.counts.items()), self._hash,
            self._count, other._count, lambda: self._union(other),
        )
        return self

    @staticmethod
    def _state_array(d: dict, name: str, shape: tuple) -> np.ndarray:
        """A deserialized state array, refused unless it is C-contiguous
        ``uint64`` of the shape the params give: the native add loop
        writes these cells with no bounds checks of NumPy's."""
        a = d.get(name)
        if not (
            isinstance(a, np.ndarray)
            and a.dtype == np.uint64
            and a.shape == shape
            and a.flags.c_contiguous
        ):
            raise ValueError(f"{name}: expected C-contiguous uint64 of shape {shape}")
        return a

    def serialize(self) -> bytes:
        d = {
            "params": self.params.__dict__,
            "cand": self._cand_section(),
            **self._state_dict(),
        }
        return self.variant + serde_dumps(d)

    @classmethod
    def deserialize(cls, blob: bytes):
        if blob[:4] != cls.variant:
            raise ValueError(f"not a {cls.__name__} blob")
        _sniff_legacy_pickle(blob[4:6])
        d = serde_loads(blob[4:])
        params = d.get("params") if isinstance(d, dict) else None
        if not isinstance(params, dict) or params.keys() != _PARAMS:
            raise ValueError(f"params: expected exactly the fields {sorted(_PARAMS)}")
        sk = cls(**params)
        sk._load_state(d)
        for item, c in _load_cand(d.get("cand"), sk.params.k):
            sk.pq.upsert(item, c)
        return sk


class BucketedTopK(_VariantBase):
    variant = b"HKB1"

    def __init__(self, k, width, depth, decay=0.9, seed=12345, rng=None) -> None:
        super().__init__(k, width, depth, decay, seed, rng)
        self.fps = np.zeros((width, depth), dtype=np.uint64)
        self.counts = np.zeros((width, depth), dtype=np.uint64)

    def _state_dict(self) -> dict:
        return {"fps": self.fps, "counts": self.counts}

    def _load_state(self, d: dict) -> None:
        shape = (self.params.width, self.params.depth)
        self.fps = self._state_array(d, "fps", shape)
        self.counts = self._state_array(d, "counts", shape)

    def _index(self, h: np.ndarray) -> np.ndarray:
        w = self.params.width
        if w & (w - 1) == 0:
            return (h & _U64(w - 1)).astype(np.int64)
        return (h % _U64(w)).astype(np.int64)

    def _add_core(self, fp: np.ndarray, w: np.ndarray) -> np.ndarray:
        b = self._index(fp)
        native.bucketed_add(self.fps, self.counts, b, fp, w, *_duel_params(self))
        return self._bucket_count(fp, b)

    def _count(self, fp: np.ndarray) -> np.ndarray:
        return self._bucket_count(fp, self._index(fp))

    def _bucket_count(self, fp: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Count of each fingerprint's matching cell in its bucket ``b``
        (0 when none matches)."""
        bf = self.fps[b]
        bc = self.counts[b]
        m = (bf == fp[:, None]) & (bc > 0)
        hit = bc[np.arange(fp.shape[0]), m.argmax(axis=1)]
        return np.where(m.any(axis=1), hit, 0).astype(np.int64)

    def _union(self, other: "BucketedTopK") -> None:
        # vectorized per other-slot column (scan semantics of
        # src/bucketed.rs:403-445 preserved: match, else first empty,
        # else evict min when strictly larger)
        width = self.params.width
        rows = np.arange(width)
        for j in range(self.params.depth):
            ofp = other.fps[:, j]
            oc = other.counts[:, j]
            live = oc > 0
            mm = (self.fps == ofp[:, None]) & (self.counts > 0)
            has = mm.any(axis=1) & live
            slot = mm.argmax(axis=1)
            with np.errstate(over="ignore"):
                self.counts[rows[has], slot[has]] += oc[has]
            rest = live & ~has
            em = self.counts == 0
            has_e = em.any(axis=1) & rest
            eslot = em.argmax(axis=1)
            self.fps[rows[has_e], eslot[has_e]] = ofp[has_e]
            self.counts[rows[has_e], eslot[has_e]] = oc[has_e]
            rest2 = rest & ~has_e
            if rest2.any():
                mslot = self.counts.argmin(axis=1)
                minc = self.counts[rows, mslot]
                ev = rest2 & (oc > minc)
                self.fps[rows[ev], mslot[ev]] = ofp[ev]
                self.counts[rows[ev], mslot[ev]] = oc[ev]


class CuckooTopK(_VariantBase):
    variant = b"HKC1"

    def __init__(
        self, k, width, depth, decay=0.9, seed=12345, max_kicks: int = 8, rng=None
    ) -> None:
        super().__init__(k, width, depth, decay, seed, rng)
        if max_kicks < 1:
            raise ValueError("max_kicks must be >= 1")
        self.max_kicks = int(max_kicks)
        self.lobby_fp = np.zeros(width, dtype=np.uint64)
        self.lobby_c = np.zeros(width, dtype=np.uint64)
        self.heavy_fp = np.zeros((width, depth), dtype=np.uint64)
        self.heavy_c = np.zeros((width, depth), dtype=np.uint64)

    def _state_dict(self) -> dict:
        return {
            "lobby_fp": self.lobby_fp,
            "lobby_c": self.lobby_c,
            "heavy_fp": self.heavy_fp,
            "heavy_c": self.heavy_c,
            "max_kicks": self.max_kicks,
        }

    def _load_state(self, d: dict) -> None:
        width, depth = self.params.width, self.params.depth
        self.lobby_fp = self._state_array(d, "lobby_fp", (width,))
        self.lobby_c = self._state_array(d, "lobby_c", (width,))
        self.heavy_fp = self._state_array(d, "heavy_fp", (width, depth))
        self.heavy_c = self._state_array(d, "heavy_c", (width, depth))
        max_kicks = d.get("max_kicks")
        if type(max_kicks) is not int or max_kicks < 1:
            raise ValueError(f"max_kicks must be an int >= 1, got {max_kicks!r}")
        self.max_kicks = max_kicks

    def _pair(self, fp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """bucket_pair (src/cuckoo.rs:569-580)."""
        return native.cuckoo_pairs(fp, self.params.width)

    def _native_state(self) -> tuple:
        return self.lobby_fp, self.lobby_c, self.heavy_fp, self.heavy_c, self.max_kicks

    def _add_core(self, fp: np.ndarray, w: np.ndarray) -> np.ndarray:
        return native.cuckoo_add(*self._native_state(), fp, w, *_duel_params(self))

    def _heavy_cell(self, fp: np.ndarray, b1: np.ndarray, b2: np.ndarray) -> np.ndarray:
        """Flat id of the live heavy slot holding each fingerprint, in
        its bucket ``b1`` first, then ``b2``; -1 when none does."""
        d = self.params.depth
        cell = np.full(fp.shape[0], -1, dtype=np.int64)
        for b in (b2, b1):  # b1 last: its hit overwrites b2's
            m = (self.heavy_fp[b] == fp[:, None]) & (self.heavy_c[b] > 0)
            hit = m.any(axis=1)
            cell[hit] = b[hit] * d + m.argmax(axis=1)[hit]
        return cell

    def _count(self, fp: np.ndarray) -> np.ndarray:
        b1, b2 = self._pair(fp)
        cell = self._heavy_cell(fp, b1, b2)
        lob = np.where(self.lobby_fp[b1] == fp, self.lobby_c[b1], 0)
        return np.where(cell >= 0, self.heavy_c.reshape(-1)[cell], lob).astype(np.int64)

    def _check_compat(self, other: "CuckooTopK") -> None:
        super()._check_compat(other)
        if self.max_kicks != other.max_kicks:
            raise SketchCompatError("max_kicks", self.max_kicks, other.max_kicks)

    def _union(self, other: "CuckooTopK") -> None:
        """Deterministic merge — no decay (src/cuckoo.rs:408-553)."""
        live = other.heavy_c.reshape(-1) > 0
        native.cuckoo_merge_heavy(
            *self._native_state(), other.heavy_fp.reshape(-1)[live], other.heavy_c.reshape(-1)[live]
        )
        # lobbies of other: fold into heavy if present, else
        # higher-count-wins (ties keep self). A lobby holds only
        # fingerprints whose primary bucket it is, so the lobby fps are
        # distinct and each row writes its own cells: conflict-free
        # scatters.
        nzl = np.flatnonzero(other.lobby_c > 0)
        f, c = other.lobby_fp[nzl], other.lobby_c[nzl]
        b1, b2 = self._pair(f)
        cell = self._heavy_cell(f, b1, b2)
        hit = cell >= 0
        self.heavy_c.reshape(-1)[cell[hit]] += c[hit]
        rp, rf, rc = b1[~hit], f[~hit], c[~hit]
        same = (self.lobby_c[rp] > 0) & (self.lobby_fp[rp] == rf)
        self.lobby_c[rp[same]] += rc[same]
        take = ~same & ((self.lobby_c[rp] == 0) | (rc > self.lobby_c[rp]))
        self.lobby_fp[rp[take]] = rf[take]
        self.lobby_c[rp[take]] = rc[take]


#: blob magic -> sketch class, for every kind the library serializes
_KINDS = {
    _MAGIC: HeavyKeeper,
    BucketedTopK.variant: BucketedTopK,
    CuckooTopK.variant: CuckooTopK,
    hll._KIND: hll.HLL,
    cms._KIND: cms.CountMin,
    bloom._KIND: bloom.Bloom,
    kll._KIND: kll.KLL,
    tdigest._KIND: tdigest.TDigest,
}


def deserialize_any(blob: bytes):
    """Deserialize whichever sketch kind wrote the blob, sniffed from
    the 4-byte magic: the three HeavyKeeper layouts (HKS1 canonical,
    HKB1 bucketed, HKC1 cuckoo) and the rest of the family (HLL1,
    CMS1, BLM1, KLL1, TDG1).

    The reference exposes count()/contains() on all three layouts
    (src/heavykeeper.rs:220-246, src/bucketed.rs:260-269,
    src/cuckoo.rs:280-289); the distributed broadcast-probe operators
    use this so a sketch built with ANY variant can be probed, and the
    merge tree (``operators.combine``) decodes every kind through it."""
    tag = bytes(blob[:4])
    cls = _KINDS.get(tag)
    if cls is None:
        raise ValueError(f"unknown sketch blob magic {tag!r}")
    return cls.deserialize(blob)
