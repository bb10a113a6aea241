"""BucketedTopK and CuckooTopK — the reference's two alternative sketch
layouts, re-implemented from scratch with the same batch API as
kernel.HeavyKeeper (README.md:48-51: all three variants expose the same
API).

- BucketedTopK (src/bucketed.rs): one hash → one bucket of ``depth``
  contiguous cells. add: fingerprint match → saturating add; else
  first empty cell → install; else decay-duel the bucket's MINIMUM
  cell (src/bucketed.rs:187-258, 452-476). Merge: PQ first with
  pre-merge bucket_count fallback both directions
  (src/bucketed.rs:377-401), then per-bucket union by fingerprint with
  min-count eviction when full and the incoming count is larger
  (src/bucketed.rs:403-445).
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

Execution strategy: a batch collapses to its distinct keys, heaviest
first (``kernel.preaggregate``, shared with the canonical kernel).
Bucketed adds them in the native loop (``native.bucketed_add``: first
match, else first empty, else the first minimum cell's decay duel, one
item after another). Cuckoo probes heavy hits vectorized, then runs
the misses in waves of unique primary buckets: each wave's lobby step
is the native loop (``native.hk_add`` over the lobby cells), and its
promotions and kick chains are vectorized, with a per-item tail. The
canonical depth-row HeavyKeeper (kernel.py) remains the default; these
variants trade some speed for their accuracy profiles (BASELINE.md:
Bucketed/Cuckoo recall 0.985 / 1.000 vs 0.942).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import native
from .errors import SketchCompatError
from .serde import dumps as serde_dumps, loads as serde_loads
from .kernel import (
    _MAGIC,
    HeavyKeeper,
    HKParams,
    TopKQueue,
    _as_keys,
    _duel_params,
    _item_heap,
    _key_array,
    _pq_admit,
    _pq_key,
    _sniff_legacy_pickle,
    hash_items,
    preaggregate,
)
from .sketches import bloom, cms, hll, kll, tdigest

_U64 = np.uint64
_CUCKOO_SALT = _U64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray | np.uint64) -> np.ndarray | np.uint64:
    """splitmix64 finalizer (src/cuckoo.rs:571-582)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


class _VariantBase:
    """Shared plumbing: params, PQ, RNG, batch add, serialization."""

    variant: bytes = b"????"

    @classmethod
    def builder(cls):
        """Fluent construction (src/bucketed.rs:131, src/cuckoo.rs:190)."""
        from .kernel import SketchBuilder

        return SketchBuilder(cls)

    def __init__(
        self,
        k: int,
        width: int,
        depth: int,
        decay: float = 0.9,
        seed: int = 12345,
        rng: np.random.Generator | None = None,
    ) -> None:
        self.params = HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed)
        self.pq = TopKQueue(k)
        self.rng = rng if rng is not None else np.random.default_rng(seed)
        # test hook: pins decay to 1.0 (True) or 0.0 (False)
        self._force_decay: bool | None = None

    # -- hashing ----------------------------------------------------------
    def _hash(self, items: np.ndarray) -> np.ndarray:
        return hash_items(items, self.params.seed)

    def _index(self, h: np.ndarray) -> np.ndarray:
        w = self.params.width
        if w & (w - 1) == 0:
            return (h & _U64(w - 1)).astype(np.int64)
        return (h % _U64(w)).astype(np.int64)

    def add_batch(self, items: np.ndarray, weights: np.ndarray | None = None) -> None:
        arr = _as_keys(items)
        pos, w, fp = preaggregate(arr, weights, self._hash)
        self._add_core(fp, w, lambda sel: arr[pos[sel]])

    def add_batch_hashed(self, hashes, weights, key_take) -> None:
        """Insert pre-hashed keys WITHOUT materializing them
        (kernel.HeavyKeeper.add_batch_hashed contract): ``hashes`` must
        come from this sketch's seeded ``hash_items`` family —
        ``hash_string_buffers`` produces identical values straight off
        the Arrow buffers — ``weights=None`` counts each hash once, and
        ``key_take(indices)`` materializes only the keys that actually
        enter the top-K queue."""
        pos, w, fp = preaggregate(np.asarray(hashes, dtype=np.uint64), weights)
        self._add_core(fp, w, lambda sel: key_take(pos[sel]))

    def contains(self, item) -> bool:
        return bool(self.estimate([item])[0] > 0)

    def query(self, item) -> bool:
        """O10: deprecated alias of ``contains`` (src/bucketed.rs:299,
        src/cuckoo.rs:326 — deprecated in the reference since 0.6.9)."""
        import warnings

        warnings.warn(
            "query() is a deprecated alias; use contains()",
            DeprecationWarning,
            stacklevel=2,
        )
        return self.contains(item)

    def contains_top_k(self, item) -> bool:
        return _pq_key(item) in self.pq.counts

    def list(self) -> list[tuple[bytes, int]]:
        return self.pq.items_sorted()

    def _check_compat(self, other: "_VariantBase") -> None:
        if type(self) is not type(other):
            raise SketchCompatError("variant", type(self).__name__, type(other).__name__)
        self.params.check_compatible(other.params)

    def _state_dict(self) -> dict:
        raise NotImplementedError

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
            "cand": [(k, int(c), int(self.pq.seqs[k])) for k, c in self.pq.counts.items()],
            **self._state_dict(),
        }
        return self.variant + serde_dumps(d)

    @classmethod
    def deserialize(cls, blob: bytes):
        if blob[:4] != cls.variant:
            raise ValueError(f"not a {cls.__name__} blob")
        _sniff_legacy_pickle(blob[4:6])
        d = serde_loads(blob[4:])
        sk = cls(**d["params"])
        sk._load_state(d)
        for item, c, _seq in sorted(d["cand"], key=lambda t: t[2]):
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

    def _add_core(self, fp: np.ndarray, w: np.ndarray, key_take) -> None:
        b = self._index(fp)
        native.bucketed_add(self.fps, self.counts, b, fp, w, *_duel_params(self))
        _pq_admit(self.pq, key_take, self._bucket_count(fp, b))

    def _bucket_count(self, fp: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Count of each fingerprint's matching cell in its bucket ``b``
        (0 when none matches)."""
        bf = self.fps[b]
        bc = self.counts[b]
        m = (bf == fp[:, None]) & (bc > 0)
        hit = bc[np.arange(fp.shape[0]), m.argmax(axis=1)]
        return np.where(m.any(axis=1), hit, 0).astype(np.int64)

    def estimate(self, items: np.ndarray, use_heap: bool = True) -> np.ndarray:
        arr = _as_keys(items)
        fp = self._hash(arr)
        out = self._bucket_count(fp, self._index(fp))
        if use_heap and self.pq.counts:
            get = self.pq.counts.get
            for i in range(arr.shape[0]):
                c = get(_pq_key(arr[i]))
                if c is not None:
                    out[i] = c
        return out

    def merge(self, other: "BucketedTopK") -> "BucketedTopK":
        self._check_compat(other)
        # PQ first, pre-merge bucket_count fallbacks (src/bucketed.rs:377-401)
        other_items = list(other.pq.counts.items())
        self_only = [
            (k, c) for k, c in self.pq.counts.items() if k not in other.pq.counts
        ]
        if self_only:
            keys = _key_array([k for k, _ in self_only])
            ob = other.estimate(keys, use_heap=False)
            self_only_updates = [
                (k, c + int(e)) for (k, c), e in zip(self_only, ob)
            ]
        else:
            self_only_updates = []
        if other_items:
            keys = _key_array([k for k, _ in other_items])
            sb = self.estimate(keys, use_heap=False)
            for (item, oc), fb in zip(other_items, sb):
                mine = self.pq.counts.get(item)
                merged = (mine if mine is not None else int(fb)) + int(oc)
                self.pq.upsert(item, merged)
        for item, c in self_only_updates:
            self.pq.upsert(item, c)
        # cell union, vectorized per other-slot column (scan semantics of
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
        return self

    def mem_bytes(self, item_heap_fn=None) -> int:
        heap = item_heap_fn if item_heap_fn is not None else _item_heap
        items = sum(int(heap(k)) + 96 for k in self.pq.counts)
        return int(self.fps.nbytes + self.counts.nbytes + items)


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
        """bucket_pair (src/cuckoo.rs:569-580), vectorized."""
        b1 = self._index(fp)
        if self.params.width == 1:
            return b1, b1
        b2 = self._index(_mix64(fp ^ _CUCKOO_SALT))
        same = b2 == b1
        b2 = np.where(same, (b2 + 1) % self.params.width, b2)
        return b1, b2

    def _add_core(self, fp: np.ndarray, w: np.ndarray, key_take) -> None:
        n = fp.shape[0]
        if n == 0:
            return
        b1, b2 = self._pair(fp)
        depth = self.params.depth
        flat_c = self.heavy_c.reshape(-1)
        est = np.zeros(n, dtype=np.int64)
        # vector phase: heavy hits (primary bucket first — find_heavy
        # order). Matched slots are GLOBALLY unique — keys are
        # pre-aggregated so fps are distinct within the batch, and two
        # items matching the same (bucket, slot) would need the same
        # fp — so a direct fancy-index scatter += replaces np.add.at,
        # and the post-add estimate is a direct gather off the same
        # slots instead of a 4-gather re-probe.
        m1 = (self.heavy_fp[b1] == fp[:, None]) & (self.heavy_c[b1] > 0)
        h1 = m1.any(axis=1)
        hit = h1.copy()
        if h1.any():
            slots1 = b1[h1] * depth + m1.argmax(axis=1)[h1]
            flat_c[slots1] += w[h1].astype(np.uint64)
            est[h1] = flat_c[slots1].astype(np.int64)
        # secondary probe only for primary misses (~25-35% of rows sit
        # in their primary bucket on Zipf steady state — the gather +
        # compare on those rows was pure waste)
        nh1 = np.flatnonzero(~h1)
        if nh1.size:
            fp2 = fp[nh1]
            m2 = (self.heavy_fp[b2[nh1]] == fp2[:, None]) & (
                self.heavy_c[b2[nh1]] > 0
            )
            h2s = m2.any(axis=1)
            sel2 = nh1[h2s]
            if sel2.size:
                slots2 = b2[sel2] * depth + m2.argmax(axis=1)[h2s]
                flat_c[slots2] += w[sel2].astype(np.uint64)
                est[sel2] = flat_c[slots2].astype(np.int64)
                hit[sel2] = True
        # residue: lobby duels + promotion. Processed in waves of
        # unique primary buckets (heaviest-first within a bucket, the
        # batch order), each wave's lobby step one native loop and its
        # promote *decision* vectorized; colliding promotions and the
        # small last waves take the scalar path.
        rem = np.flatnonzero(~hit)
        if rem.size:
            # all waves in ONE grouping pass: occurrence-rank r of each
            # item's primary bucket within the (weight-ordered) residue
            # — wave k processes every item with r == k, i.e. the k-th
            # contender of each bucket, preserving heaviest-first order
            # per bucket without a per-wave np.unique sort
            inv = pd.factorize(b1[rem], sort=False)[0]
            order = np.argsort(inv, kind="stable")
            counts = np.bincount(inv)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            rank = np.empty(rem.size, dtype=np.int64)
            rank[order] = np.arange(rem.size) - np.repeat(starts, counts)
            n_waves = int(rank.max()) + 1
            for k in range(n_waves):
                idx = rem[rank == k]
                if idx.size <= 24:
                    # a wave this small costs more in fixed vector-op
                    # dispatch than per-item work: finish this wave and
                    # every later one scalar, in residue order (which
                    # is rank order within each bucket — heaviest
                    # contender first, same as the wave schedule)
                    for t in rem[rank >= k]:
                        est[t] = self._add_one(
                            int(b1[t]), int(b2[t]), fp[t], int(w[t])
                        )
                    break
                self._add_wave(idx, b1, b2, fp, w, est)
        _pq_admit(self.pq, key_take, est)

    def _add_wave(
        self,
        sub: np.ndarray,
        b1: np.ndarray,
        b2: np.ndarray,
        fp: np.ndarray,
        w: np.ndarray,
        est: np.ndarray,
    ) -> None:
        """One residue wave: ``b1[sub]`` are unique buckets, so lobby
        writes never conflict. Mirrors ``_add_one`` semantics exactly;
        the vector phases just batch the common outcomes."""
        depth = self.params.depth
        bb1, bb2, f, ww = b1[sub], b2[sub], fp[sub], w[sub]
        # No heavy recheck needed: the batch's vector phase already
        # probed both buckets, fps are unique post-preagg, and an fp
        # can only ENTER heavy when its own item is processed — earlier
        # waves promote/relocate OTHER fps. (The scalar _add_one keeps
        # its recheck because it is also the generic single-item entry
        # point.) Only a 64-bit fingerprint collision between two
        # distinct pre-aggregated keys could defeat this, in which case
        # the second key duels the lobby instead of incrementing the
        # heavy cell — the sketch stays within its error model.
        # Lobby step (src/cuckoo.rs:635-651): empty or same fp adds,
        # anything else duels the lobby cell.
        holders = self._lobby_add(bb1, f, ww)
        # promote decision, vectorized over lobby holders
        if holders.size == 0:
            return
        hb1, hb2 = bb1[holders], bb2[holders]
        lc = self.lobby_c[hb1].astype(np.int64)
        # one gather per bucket row, reused for the empty probe AND the
        # min (nothing has mutated heavy yet this wave — the phases
        # above only touch lobbies)
        h1c = self.heavy_c[hb1]
        h2c = self.heavy_c[hb2]
        e1_zero = h1c == 0
        e1_mask = e1_zero.any(axis=1)
        has_empty = e1_mask | (h2c == 0).any(axis=1)
        minc = np.minimum(h1c.min(axis=1), h2c.min(axis=1)).astype(np.int64)
        cand_mask = has_empty | (lc > minc)
        # common case fully vectorized: the PRIMARY bucket has an empty
        # slot. Primary buckets are unique within a wave, so the
        # installs are conflict-free scatters (first zero slot — the
        # same slot scalar _promote's argmin picks); lobbies clear
        # atomically with the install.
        e1 = np.flatnonzero(cand_mask & e1_mask)
        if e1.size:
            tb = hb1[e1]
            slot = e1_zero[e1].argmax(axis=1)
            hidx = holders[e1]
            cur = self.lobby_c[tb].copy()
            self.heavy_fp[tb, slot] = f[hidx]
            self.heavy_c[tb, slot] = cur
            self.lobby_fp[tb] = 0
            self.lobby_c[tb] = 0
            est[sub[hidx]] = cur.astype(np.int64)
            cand_mask = cand_mask.copy()
            cand_mask[e1] = False
        # SECONDARY-bucket empty installs, vectorized for candidates
        # whose secondary bucket is unique this wave (secondary buckets,
        # unlike primaries, can collide — duplicates defer to the scalar
        # path). Emptiness is re-read AFTER the primary installs above
        # so a slot an e1 install just took is never double-booked;
        # lobby cells are per-primary-bucket (unique this wave), so
        # each candidate's lobby count is still its own.
        rest = np.flatnonzero(cand_mask)
        if rest.size:
            tb2 = hb2[rest]
            e2m = self.heavy_c[tb2] == 0
            has2 = e2m.any(axis=1)
            uniq = np.zeros(rest.size, dtype=bool)
            _, fidx = np.unique(tb2, return_index=True)
            uniq[fidx] = True
            do2 = np.flatnonzero(has2 & uniq)
            if do2.size:
                sel = rest[do2]
                tb = hb2[sel]
                slot = e2m[do2].argmax(axis=1)
                hidx = holders[sel]
                tbl = hb1[sel]
                cur = self.lobby_c[tbl].copy()
                self.heavy_fp[tb, slot] = f[hidx]
                self.heavy_c[tb, slot] = cur
                self.lobby_fp[tbl] = 0
                self.lobby_c[tbl] = 0
                est[sub[hidx]] = cur.astype(np.int64)
                cand_mask[sel] = False
        # EVICTIONS, vectorized (round-4: batch the relocations by
        # level instead of per-item kick chains). For candidates whose
        # buckets are both full (fresh read — the install phases above
        # may have consumed empties): pick the global-min victim cell
        # exactly like scalar ``_min_heavy`` (primary wins ties),
        # install the lobby item over it when lobby > victim, drop the
        # attempt (lobby keeps the item) otherwise. Same-state rows
        # pointing at the same bucket pick the same argmin cell, so
        # deduping on the victim CELL makes installs conflict-free;
        # displaced victims then relocate level-synchronously in
        # ``_relocate_batch``.
        rest = np.flatnonzero(cand_mask)
        if rest.size:
            tb1r, tb2r = hb1[rest], hb2[rest]
            h1c = self.heavy_c[tb1r]
            h2c = self.heavy_c[tb2r]
            empty_any = (h1c == 0).any(axis=1) | (h2c == 0).any(axis=1)
            ar = np.arange(rest.size)
            i1 = h1c.argmin(axis=1)
            c1 = h1c[ar, i1].astype(np.int64)
            i2 = h2c.argmin(axis=1)
            c2 = h2c[ar, i2].astype(np.int64)
            use2 = c2 < c1
            vbb = np.where(use2, tb2r, tb1r)
            vii = np.where(use2, i2, i1)
            vcc = np.where(use2, c2, c1)
            lcr = self.lobby_c[tb1r].astype(np.int64)
            dead = (~empty_any) & (lcr <= vcc)
            if dead.any():
                cand_mask[rest[dead]] = False  # lobby keeps the item
            ev = np.flatnonzero((~empty_any) & (lcr > vcc))
            if ev.size:
                cells = vbb[ev] * depth + vii[ev]
                uniqv = np.zeros(ev.size, dtype=bool)
                _, fcell = np.unique(cells, return_index=True)
                uniqv[fcell] = True
                dov = ev[uniqv]
                if dov.size:
                    selv = rest[dov]
                    hv = holders[selv]
                    vbs, vis = vbb[dov], vii[dov]
                    vfp = self.heavy_fp[vbs, vis].copy()
                    vcnt = vcc[dov].copy()
                    curv = lcr[dov]
                    self.heavy_fp[vbs, vis] = f[hv]
                    self.heavy_c[vbs, vis] = curv.astype(np.uint64)
                    tbl = hb1[selv]
                    self.lobby_fp[tbl] = 0
                    self.lobby_c[tbl] = 0
                    est[sub[hv]] = curv
                    cand_mask[selv] = False
                    self._relocate_batch(vfp, vcnt, vbs)
        # the rest (colliding secondary installs / victim cells) stays
        # scalar and ordered — rare
        for j in np.flatnonzero(cand_mask):
            i = int(holders[j])
            bb, ba = int(hb1[j]), int(hb2[j])
            cur = int(self.lobby_c[bb])
            if cur <= 0 or self.lobby_fp[bb] != f[i]:
                continue  # an earlier promotion this wave displaced it
            if self._promote(f[i], cur, bb, ba):
                self.lobby_fp[bb] = 0
                self.lobby_c[bb] = 0
                est[sub[i]] = cur

    def _add_one(self, b1: int, b2: int, fp: np.uint64, w: int) -> int:
        # re-check heavy (residue ordering may have promoted this fp)
        idx = self._find_heavy(fp, b1, b2)
        if idx is not None:
            self.heavy_c.reshape(-1)[idx] += np.uint64(w)
            return int(self.heavy_c.reshape(-1)[idx])
        if not self._lobby_add(np.asarray([b1]), np.asarray([fp]), np.asarray([w])).size:
            return 0
        lc = int(self.lobby_c[b1])
        if self._promote(fp, lc, b1, b2):
            if self.lobby_fp[b1] == fp:
                self.lobby_fp[b1] = 0
                self.lobby_c[b1] = 0
            return lc
        return 0

    def _lobby_add(self, b: np.ndarray, fp: np.ndarray, w: np.ndarray) -> np.ndarray:
        """Add each item to the lobby cell of its primary bucket ``b``
        (the native add loop at depth 1), in array order; returns the
        positions of the items that hold their lobby afterwards."""
        native.hk_add(self.lobby_fp, self.lobby_c, b, fp, w, *_duel_params(self))
        return np.flatnonzero((self.lobby_fp[b] == fp) & (self.lobby_c[b] > 0))

    def _find_heavy(self, fp: np.uint64, b1: int, b2: int) -> int | None:
        for b in (b1, b2) if b1 != b2 else (b1,):
            m = (self.heavy_fp[b] == fp) & (self.heavy_c[b] > 0)
            if m.any():
                return b * self.params.depth + int(m.argmax())
        return None

    def _promote(self, fp: np.uint64, count: int, b1: int, b2: int) -> bool:
        """src/cuckoo.rs:653-676. argmin doubles as the first-empty
        probe (first minimal slot IS the first zero when one exists),
        halving the numpy dispatches on this hot scalar path."""
        for b in (b1, b2) if b1 != b2 else (b1,):
            row = self.heavy_c[b]
            i = int(row.argmin())
            if row[i] == 0:
                self.heavy_fp[b, i] = fp
                self.heavy_c[b, i] = count
                return True
        vb, vi, vc = self._min_heavy(b1, b2)
        if count <= vc:
            return False
        vfp = self.heavy_fp[vb, vi]
        vcount = int(self.heavy_c[vb, vi])
        self.heavy_fp[vb, vi] = fp
        self.heavy_c[vb, vi] = count
        self._relocate(vfp, vcount, vb)
        return True

    def _min_heavy(self, b1: int, b2: int) -> tuple[int, int, int]:
        i1 = int(self.heavy_c[b1].argmin())
        c1 = int(self.heavy_c[b1, i1])
        if b2 == b1:
            return b1, i1, c1
        i2 = int(self.heavy_c[b2].argmin())
        c2 = int(self.heavy_c[b2, i2])
        return (b2, i2, c2) if c2 < c1 else (b1, i1, c1)

    def _pair_one(self, fp) -> tuple[int, int]:
        """Scalar bucket_pair (src/cuckoo.rs:569-580) without the
        1-element-array overhead of the vectorized ``_pair``."""
        w = self.params.width
        f = int(fp)
        b1 = f & (w - 1) if w & (w - 1) == 0 else f % w
        if w == 1:
            return b1, b1
        x = (f ^ 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        b2 = x & (w - 1) if w & (w - 1) == 0 else x % w
        if b2 == b1:
            b2 = (b2 + 1) % w
        return b1, b2

    def _relocate_batch(
        self, fp: np.ndarray, count: np.ndarray, from_b: np.ndarray
    ) -> None:
        """Level-synchronous bounded kick chains: one ``_relocate``
        hop (src/cuckoo.rs:678-707) for ALL live victims per
        iteration, arrays shrinking as chains terminate. Duplicate
        targets within a level would race on the shared argmin cell,
        so all-but-the-first for each target finish on the scalar
        chain; survivors' installs hit unique cells and the displaced
        occupants (tc > 0 swaps) carry to the next level."""
        fp = np.asarray(fp, dtype=np.uint64)
        count = np.asarray(count, dtype=np.int64)
        from_b = np.asarray(from_b, dtype=np.int64)
        for _ in range(self.max_kicks):
            live = count > 0
            if not live.all():
                fp, count, from_b = fp[live], count[live], from_b[live]
            if fp.size == 0:
                return
            b1, b2 = self._pair(fp)
            target = np.where(from_b == b1, b2, b1)
            keep = target != from_b
            if not keep.all():
                fp, count, from_b, target = (
                    fp[keep], count[keep], from_b[keep], target[keep]
                )
            if fp.size == 0:
                return
            uniq = np.zeros(fp.size, dtype=bool)
            _, fi = np.unique(target, return_index=True)
            uniq[fi] = True
            for j in np.flatnonzero(~uniq):
                self._relocate(fp[j], int(count[j]), int(from_b[j]))
            if not uniq.all():
                fp, count, from_b, target = (
                    fp[uniq], count[uniq], from_b[uniq], target[uniq]
                )
            rowc = self.heavy_c[target]
            i = rowc.argmin(axis=1)
            tc = rowc[np.arange(fp.size), i].astype(np.int64)
            install = (tc == 0) | (count > tc)
            ins = np.flatnonzero(install)
            if ins.size == 0:
                return  # every remaining chain died (count <= tc > 0)
            tbs, slots = target[ins], i[ins]
            ofp = self.heavy_fp[tbs, slots].copy()
            self.heavy_fp[tbs, slots] = fp[ins]
            self.heavy_c[tbs, slots] = count[ins].astype(np.uint64)
            swapped = tc[ins] > 0  # empty installs terminate; swaps carry on
            fp = ofp[swapped]
            count = tc[ins][swapped]
            from_b = tbs[swapped]

    def _relocate(self, fp: np.uint64, count: int, from_b: int) -> None:
        """Bounded kick chain (src/cuckoo.rs:678-707)."""
        for _ in range(self.max_kicks):
            if count == 0:
                return
            p, a = self._pair_one(fp)
            target = a if from_b == p else p
            if target == from_b:
                return
            row = self.heavy_c[target]
            i = int(row.argmin())
            tc = int(row[i])
            if tc == 0:
                self.heavy_fp[target, i] = fp
                self.heavy_c[target, i] = count
                return
            if count <= tc:
                return
            ofp = self.heavy_fp[target, i]
            self.heavy_fp[target, i] = fp
            self.heavy_c[target, i] = count
            fp, count, from_b = ofp, tc, target

    def estimate(self, items: np.ndarray, use_heap: bool = True) -> np.ndarray:
        arr = _as_keys(items)
        n = arr.shape[0]
        fp = self._hash(arr)
        b1, b2 = self._pair(fp)
        m1 = (self.heavy_fp[b1] == fp[:, None]) & (self.heavy_c[b1] > 0)
        m2 = (self.heavy_fp[b2] == fp[:, None]) & (self.heavy_c[b2] > 0)
        c1 = np.where(m1.any(1), self.heavy_c[b1][np.arange(n), m1.argmax(1)], 0)
        c2 = np.where(m2.any(1), self.heavy_c[b2][np.arange(n), m2.argmax(1)], 0)
        lob = np.where(self.lobby_fp[b1] == fp, self.lobby_c[b1], 0)
        out = np.where(c1 > 0, c1, np.where(c2 > 0, c2, lob)).astype(np.int64)
        if use_heap and self.pq.counts:
            get = self.pq.counts.get
            for i in range(n):
                c = get(_pq_key(arr[i]))
                if c is not None:
                    out[i] = c
        return out

    def merge(self, other: "CuckooTopK") -> "CuckooTopK":
        """Deterministic merge — no decay (src/cuckoo.rs:408-553)."""
        self._check_compat(other)
        if self.max_kicks != other.max_kicks:
            raise SketchCompatError("max_kicks", self.max_kicks, other.max_kicks)
        # PQ first (pre-merge fallbacks)
        other_items = list(other.pq.counts.items())
        self_only = [
            (k, c) for k, c in self.pq.counts.items() if k not in other.pq.counts
        ]
        self_only_updates = []
        if self_only:
            keys = _key_array([k for k, _ in self_only])
            ob = other.estimate(keys, use_heap=False)
            self_only_updates = [(k, c + int(e)) for (k, c), e in zip(self_only, ob)]
        if other_items:
            keys = _key_array([k for k, _ in other_items])
            sb = self.estimate(keys, use_heap=False)
            for (item, oc), fb in zip(other_items, sb):
                mine = self.pq.counts.get(item)
                merged = (mine if mine is not None else int(fb)) + int(oc)
                self.pq.upsert(item, merged)
        for item, c in self_only_updates:
            self.pq.upsert(item, c)
        # heavy cells of other, re-inserted with lobby folding. The
        # overwhelmingly common case when merging shards of one stream
        # — fingerprint already heavy in self, no lobby involvement —
        # is handled vectorized; everything else (installs, evictions,
        # kick chains, lobby folds) takes the exact sequential path.
        d = self.params.depth
        nz = other.heavy_c.reshape(-1) > 0
        if nz.any():
            ofps = other.heavy_fp.reshape(-1)[nz]
            ocnt = other.heavy_c.reshape(-1)[nz]
            vp, va = self._pair(ofps)
            no_lobby = ~((self.lobby_c[vp] > 0) & (self.lobby_fp[vp] == ofps))
            m1 = (self.heavy_fp[vp] == ofps[:, None]) & (self.heavy_c[vp] > 0)
            h1 = m1.any(axis=1) & no_lobby
            m2 = (self.heavy_fp[va] == ofps[:, None]) & (self.heavy_c[va] > 0)
            h2 = m2.any(axis=1) & ~m1.any(axis=1) & no_lobby
            flat = self.heavy_c.reshape(-1)
            if h1.any():
                np.add.at(flat, vp[h1] * d + m1.argmax(axis=1)[h1], ocnt[h1])
            if h2.any():
                np.add.at(flat, va[h2] * d + m2.argmax(axis=1)[h2], ocnt[h2])
            handled_flat = np.zeros(other.heavy_c.size, dtype=bool)
            handled_flat[np.flatnonzero(nz)[h1 | h2]] = True
        else:
            handled_flat = np.zeros(other.heavy_c.size, dtype=bool)
        # vectorized install waves: unhandled cells whose primary bucket
        # in self has an empty slot (first winner per unique bucket per
        # wave); matches are re-checked each wave since installs mutate
        # state. Lobby-fold cells always take the sequential path.
        oc_flat = other.heavy_c.reshape(-1)
        of_flat = other.heavy_fp.reshape(-1)
        rem = np.flatnonzero(~handled_flat & (oc_flat > 0))
        for _wave in range(6):
            if rem.size == 0:
                break
            f = of_flat[rem]
            c = oc_flat[rem]
            vp, va = self._pair(f)
            nl = ~((self.lobby_c[vp] > 0) & (self.lobby_fp[vp] == f))
            m1 = (self.heavy_fp[vp] == f[:, None]) & (self.heavy_c[vp] > 0)
            m2 = (self.heavy_fp[va] == f[:, None]) & (self.heavy_c[va] > 0)
            h1 = m1.any(axis=1) & nl
            h2 = m2.any(axis=1) & ~m1.any(axis=1) & nl
            flat = self.heavy_c.reshape(-1)
            if h1.any():
                np.add.at(flat, vp[h1] * d + m1.argmax(axis=1)[h1], c[h1])
            if h2.any():
                np.add.at(flat, va[h2] * d + m2.argmax(axis=1)[h2], c[h2])
            done = h1 | h2
            # empty-primary installs: first candidate per unique bucket
            cand = nl & ~done
            em = self.heavy_c[vp] == 0
            has_e = em.any(axis=1) & cand
            done = done.copy()
            if has_e.any():
                idxs = np.flatnonzero(has_e)
                _, firstpos = np.unique(vp[idxs], return_index=True)
                winners = idxs[firstpos]
                tb = vp[winners]
                ts = em.argmax(axis=1)[winners]
                self.heavy_fp[tb, ts] = f[winners]
                self.heavy_c[tb, ts] = c[winners]
                done[winners] = True
            # empty-SECONDARY installs (round 4, mirrors _add_wave):
            # unique secondary buckets, emptiness re-read post-primary
            rest2 = np.flatnonzero(nl & ~done)
            if rest2.size:
                tb2 = va[rest2]
                e2m = self.heavy_c[tb2] == 0
                has2 = e2m.any(axis=1)
                uniq2 = np.zeros(rest2.size, dtype=bool)
                _, f2 = np.unique(tb2, return_index=True)
                uniq2[f2] = True
                do2 = np.flatnonzero(has2 & uniq2)
                if do2.size:
                    sel2 = rest2[do2]
                    self.heavy_fp[tb2[do2], e2m[do2].argmax(axis=1)] = f[sel2]
                    self.heavy_c[tb2[do2], e2m[do2].argmax(axis=1)] = c[sel2]
                    done[sel2] = True
            # evictions (round 4, mirrors _add_wave): both buckets
            # full, incoming strictly heavier than the global-min
            # victim — install over cell-deduped victims, relocate the
            # displaced occupants level-synchronously
            rest3 = np.flatnonzero(nl & ~done)
            if rest3.size:
                tb1r, tb2r = vp[rest3], va[rest3]
                h1c = self.heavy_c[tb1r]
                h2c = self.heavy_c[tb2r]
                full = ~((h1c == 0).any(axis=1) | (h2c == 0).any(axis=1))
                ar = np.arange(rest3.size)
                i1 = h1c.argmin(axis=1)
                c1 = h1c[ar, i1].astype(np.int64)
                i2 = h2c.argmin(axis=1)
                c2 = h2c[ar, i2].astype(np.int64)
                use2 = c2 < c1
                vbb = np.where(use2, tb2r, tb1r)
                vii = np.where(use2, i2, i1)
                vcc = np.where(use2, c2, c1)
                cin = c[rest3].astype(np.int64)
                dead = full & (cin <= vcc)
                if dead.any():
                    done[rest3[dead]] = True  # loses to every occupant
                ev = np.flatnonzero(full & (cin > vcc))
                if ev.size:
                    cells = vbb[ev] * d + vii[ev]
                    uq = np.zeros(ev.size, dtype=bool)
                    _, fc = np.unique(cells, return_index=True)
                    uq[fc] = True
                    dov = ev[uq]
                    if dov.size:
                        sel3 = rest3[dov]
                        vbs, vis = vbb[dov], vii[dov]
                        vfp = self.heavy_fp[vbs, vis].copy()
                        vcnt = vcc[dov].copy()
                        self.heavy_fp[vbs, vis] = f[sel3]
                        self.heavy_c[vbs, vis] = c[sel3]
                        done[sel3] = True
                        self._relocate_batch(vfp, vcnt, vbs)
            rem = rem[~done]
        todo = rem
        for t in todo:
            b, j = divmod(int(t), d)
            if True:
                oc = int(other.heavy_c[b, j])
                fp = other.heavy_fp[b, j]
                # scalar bucket_pair — bit-identical to _pair without
                # the 1-element numpy dispatch overhead (profiled at
                # ~half this loop's cost when it ran through _pair)
                p, a = self._pair_one(fp)
                count = oc
                if self.lobby_c[p] > 0 and self.lobby_fp[p] == fp:
                    count += int(self.lobby_c[p])
                    self.lobby_fp[p] = 0
                    self.lobby_c[p] = 0
                idx = self._find_heavy(fp, p, a)
                if idx is not None:
                    self.heavy_c.reshape(-1)[idx] += np.uint64(count)
                    continue
                placed = False
                for bb in (p, a) if p != a else (p,):
                    empt = np.flatnonzero(self.heavy_c[bb] == 0)
                    if empt.size:
                        i = int(empt[0])
                        self.heavy_fp[bb, i] = fp
                        self.heavy_c[bb, i] = count
                        placed = True
                        break
                if placed:
                    continue
                vb, vi, vc = self._min_heavy(p, a)
                if count > vc:
                    vfp = self.heavy_fp[vb, vi]
                    vcount = int(self.heavy_c[vb, vi])
                    self.heavy_fp[vb, vi] = fp
                    self.heavy_c[vb, vi] = count
                    self._relocate(vfp, vcount, vb)
        # lobbies of other: fold into heavy if present, else
        # higher-count-wins (ties keep self). One vector pass: lobby
        # inserts only ever land at an fp's PRIMARY bucket, so lobby
        # fps are distinct and each row's writes hit its own primary
        # cell — conflict-free scatters (heavy-hit slots are unique by
        # the distinct-fp argument, same as add_batch).
        nzl = np.flatnonzero(other.lobby_c > 0)
        if nzl.size:
            f = other.lobby_fp[nzl]
            c = other.lobby_c[nzl]
            vp, va = self._pair(f)
            m1 = (self.heavy_fp[vp] == f[:, None]) & (self.heavy_c[vp] > 0)
            m2 = (self.heavy_fp[va] == f[:, None]) & (self.heavy_c[va] > 0)
            h1 = m1.any(axis=1)
            h2 = m2.any(axis=1) & ~h1
            flatc = self.heavy_c.reshape(-1)
            if h1.any():
                flatc[vp[h1] * d + m1.argmax(axis=1)[h1]] += c[h1]
            if h2.any():
                flatc[va[h2] * d + m2.argmax(axis=1)[h2]] += c[h2]
            rest = ~(h1 | h2)
            if rest.any():
                rp = vp[rest]
                rf = f[rest]
                rc = c[rest]
                same = (self.lobby_c[rp] > 0) & (self.lobby_fp[rp] == rf)
                if same.any():
                    self.lobby_c[rp[same]] += rc[same]
                take = (~same) & (
                    (self.lobby_c[rp] == 0) | (rc > self.lobby_c[rp])
                )
                if take.any():
                    self.lobby_fp[rp[take]] = rf[take]
                    self.lobby_c[rp[take]] = rc[take]
        return self

    def mem_bytes(self, item_heap_fn=None) -> int:
        heap = item_heap_fn if item_heap_fn is not None else _item_heap
        items = sum(int(heap(k)) + 96 for k in self.pq.counts)
        return int(
            self.lobby_fp.nbytes
            + self.lobby_c.nbytes
            + self.heavy_fp.nbytes
            + self.heavy_c.nbytes
            + items
        )


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
