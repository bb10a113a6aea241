"""HeavyKeeper top-K sketch kernel.

A from-scratch re-implementation of the *semantics* of the reference
crate (pmcgleenon/heavykeeper-rs). The reference is a single-threaded
Rust library processing one item at a time; this kernel takes
Arrow-sized batches, collapses each to its distinct keys in one native
hash pass (``preaggregate``, the one batch collapse of every layout and
lane), and hands the weighted ``(fingerprint, weight)`` arrays to the
native add loop (``native.hk_add``), which runs the reference's
per-item add in C, one item after another. String keys are hashed by
the C byte kernel in ``native.py``, every row, with no dictionary
pass. Counts, fingerprints
and bucket layout follow the paper / reference semantics:

- state: ``depth`` rows x ``width`` buckets, each bucket a
  ``(fingerprint: u64, count: u64)`` cell (src/heavykeeper.rs:14-18)
  — stored here as two ``uint64`` arrays of shape ``(depth, width)``.
- one base hash per item, per-row indices derived by hash composition
  (src/hash_composition.rs:13-44): ``h2 = (h1 >> 32) * K``,
  row i>0: ``h1 = rotl(h1 + h2, 5)``; index = ``h & (width-1)`` for
  power-of-two widths else ``h % width``.
- add(item, w): per row — fingerprint match or empty cell =>
  ``count += w``; else an exponential-decay duel: each unit of w
  decrements the cell with probability ``decay**count``; if the cell
  reaches 0 the challenger seizes it with the remaining increment
  (src/heavykeeper.rs:281-354; e.g. 3000 vs a count-1000 cell under
  forced decay yields 2001 = 3000 - 999, src/heavykeeper.rs:766-794).
  A batch adds its distinct keys heaviest first.
- a bounded min-heap of K candidates with monotone ("only raise")
  updates and deterministic (count desc, insertion seq asc) ordering
  (src/priority_queue.rs:104-211).
- merge: one body (``HeavyKeeper._merge_cells``) unions the other
  side's LIVE cells — equal fingerprints add, an empty cell copies,
  otherwise self is kept (src/heavykeeper.rs:406-457) — whether they
  come from a sketch (``merge``) or straight from a blob of either
  layout (``merge_blobs``, parsed by the one ``_parse_blob``). The
  candidates follow ``merge_candidates``, the one rule of all three
  layouts: each key's value comes from the pre-merge cells of the side
  that does not track it — the BucketedTopK fallback
  (src/bucketed.rs:377-401), strictly more accurate than the
  plain-TopK ``unwrap_or(0)`` — and it is offered only after the cell
  union, at the larger of that value and its merged cells.
- one API body: ``_TopKSketch`` holds the reference surface of all
  three layouts (README.md:48-51) — ``add_batch`` (with
  ``return_evicted``), ``add_batch_hashed``, ``estimate``,
  ``contains``, ``query``, ``contains_top_k``, ``list``,
  ``mem_bytes``, ``builder`` and the merge precondition. This
  ``HeavyKeeper`` and the two layouts of ``variants.py`` subclass it
  and supply only their cells: a native add loop (``_add_core``), a
  cell estimate (``_count``), a merge and a blob codec.

Statistical fidelity, not bit-equality, is the contract: the duel is
sampled with its exact distribution (geometric gaps between
decrements) so the accuracy floors of tests/accuracy_compare.rs hold;
the candidate heap is offered each key's count once per batch, after
the batch, rather than after every add; and merge order-independence
is only guaranteed within the published HeavyKeeper error bound (see
SURVEY.md §2.7).
"""

from __future__ import annotations

import heapq
import io
import numbers
import struct
from dataclasses import dataclass

import numpy as np

from .errors import (
    BuilderError,
    InvalidDecay,
    InvalidDepth,
    InvalidK,
    InvalidWidth,
    SketchCompatError,
)
from . import native
from .native import hash_slices
from .serde import dumps as serde_dumps, loads as serde_loads

_U64 = np.uint64
_HASH_COMPOSE_K = _U64(0x517CC1B727220A95)  # src/hash_composition.rs:15
_DEFAULT_SEED = 12345  # src/heavykeeper.rs:111-115 (fixed default seed)
_MAGIC = b"HKS1"
# magic, layout version (1 dense, 2 sparse), k, width, depth, decay, seed
_HEADER = struct.Struct("<4sBqqqdq")


def _splitmix64_arr(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


def hash_string_buffers(
    offsets: np.ndarray, data: np.ndarray, seed: int
) -> np.ndarray:
    """Canonical seeded 64-bit hash of variable-length byte strings,
    computed straight off (offsets, data) buffers — the layout of an
    Arrow string/binary array, so the distributed builders hash keys
    with ZERO per-key Python objects. One C pass per byte
    (``native.hash_slices``: seeded FNV-1a, length mix, splitmix64)."""
    return hash_slices(offsets[:-1], np.diff(offsets), data, seed)


def arrow_string_buffers(col) -> tuple[np.ndarray, np.ndarray]:
    """(absolute offsets int64, data uint8) zero-copy views of an
    Arrow string/binary array (nulls must be filled upstream)."""
    import pyarrow as pa

    if pa.types.is_large_string(col.type) or pa.types.is_large_binary(col.type):
        odt = np.int64
    else:
        odt = np.int32
    off = np.frombuffer(col.buffers()[1], dtype=odt)
    offsets = off[col.offset : col.offset + len(col) + 1].astype(np.int64)
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    return offsets, data


def _object_string_buffers(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pack an object array of str/bytes keys into (offsets, data)
    buffers — the object-array path onto ``hash_string_buffers`` so
    both representations hash identically. Arrow does the str→utf-8
    packing in C (same bytes as ``str.encode``); only arrays holding
    non-str objects (bytes, ints) fall back to per-item packing."""
    import pyarrow as pa

    try:
        pa_arr = pa.array(arr, type=pa.string(), from_pandas=False)
        if pa_arr.null_count == 0:  # a None key must not alias ""
            return arrow_string_buffers(pa_arr)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        pass
    bs = [_as_bytes(x) for x in arr]
    lens = np.fromiter(map(len, bs), dtype=np.int64, count=len(bs))
    offsets = np.zeros(len(bs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = np.frombuffer(b"".join(bs), dtype=np.uint8)
    return offsets, data


def hash_items(items: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized 64-bit hash of a key batch.

    bytes/str keys: packed into contiguous byte buffers and hashed with
    ``hash_string_buffers`` (identical to the Arrow zero-copy lane the
    distributed builders use — one hash function per seed everywhere,
    the analog of the reference's single ahash per item,
    src/hash_composition.rs:13-22). Integer keys: seed-mixed splitmix64
    finalizer directly on the int64 lanes — the u64 fast path the
    reference benches (benches/topk_vs_bucketed.rs uses u64 keys).
    """
    arr = np.asarray(items)
    if arr.dtype.kind in "iu":
        x = arr.astype(np.uint64) ^ _U64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        return _splitmix64_arr(x)
    arr = np.asarray(items, dtype=object)
    offsets, data = _object_string_buffers(arr)
    return hash_string_buffers(offsets, data, seed)


def hash_as_text(values, seed: int) -> np.ndarray:
    """``hash_items`` of ``values`` as objects: the key hash of the
    CountMin, HLL and Bloom sketches, which hash an integer as its
    decimal text."""
    return hash_items(np.asarray(values, dtype=object), seed)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r_ = _U64(r)
    inv = _U64(64 - r)
    return (x << r_) | (x >> inv)


def compose_indices(h1: np.ndarray, depth: int, width: int) -> np.ndarray:
    """Derive ``depth`` bucket-index vectors from one hash.

    Same arithmetic as HashComposer (src/hash_composition.rs:15,35-44):
    ``h2 = (h1 >> 32) * 0x517cc1b727220a95``; row i>0:
    ``h1 = rotl(h1 + h2, 5)``; power-of-two widths use an AND mask
    (src/heavykeeper.rs:153-157).
    """
    n = h1.shape[0]
    # intp output: every downstream fancy index (gather/scatter) would
    # otherwise convert a uint64 index array per use
    out = np.empty((depth, n), dtype=np.intp)
    with np.errstate(over="ignore"):
        h2 = (h1 >> _U64(32)) * _HASH_COMPOSE_K
        h = h1.copy()
        pow2 = (width & (width - 1)) == 0
        mask = _U64(width - 1)
        for d in range(depth):
            if d > 0:
                h = _rotl64(h + h2, 5)
            out[d] = ((h & mask) if pow2 else (h % _U64(width))).astype(np.intp)
    return out


def _as_keys(items) -> np.ndarray:
    """A key batch as the hashing lanes take it: integer arrays stay
    native (the u64 lane), anything else becomes an object array."""
    arr = np.asarray(items)
    return arr if arr.dtype.kind in "iu" else np.asarray(items, dtype=object)


def preaggregate(
    keys: np.ndarray,
    weights: np.ndarray | None = None,
    hash_fn=None,
    raw_ints: bool = True,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collapse a batch to its distinct keys: ``(pos, w, fp)``, each
    distinct key's first position in ``keys``, its total weight and its
    fingerprint. Keys come heaviest first, ties in first-occurrence
    order: the one order every layout adds in (a lighter key
    installing first would make a heavier twin's whole mass duel a
    hopeless occupant). Keys whose total weight is below 1 drop out (a
    zero increment is a no-op, src/heavykeeper.rs:286-288). One native
    pass (``native.collapse``) sums the weights in row order.

    ``hash_fn=None``: ``keys`` are fingerprints already (the hashed
    lanes). Otherwise integer ``keys`` (with ``raw_ints``; narrower
    ints widened to 64 bits) collapse before ``hash_fn`` runs, so only
    distinct values are hashed; any other keys are hashed first. Two
    distinct raw keys sharing a 64-bit hash within a batch (probability
    ~n^2/2^65) stay two items with one fingerprint that both add to
    the same cells: a bounded overcount far below sketch error."""
    if hash_fn is not None and not (raw_ints and keys.dtype.kind in "iu"):
        keys, hash_fn = hash_fn(keys), None
    if keys.dtype.itemsize < 8:
        keys = keys.astype(np.int64 if keys.dtype.kind == "i" else np.uint64)
    uniq, first, total = native.collapse(keys, weights)
    w = total.astype(np.int64)
    keep = np.flatnonzero(w > 0)
    order = keep[np.argsort(-w[keep], kind="stable")]
    fp = uniq[order] if hash_fn is None else hash_fn(uniq[order].view(keys.dtype))
    return first[order], w[order], fp


@dataclass(frozen=True)
class HKParams:
    """Sketch shape; fixed at construction, enforced at merge.

    Defaults mirror the reference builders (src/heavykeeper.rs:503-578):
    decay 0.9, seed 12345. Validation mirrors BuilderError variants.
    """

    k: int
    width: int
    depth: int
    decay: float = 0.9
    seed: int = _DEFAULT_SEED

    def __post_init__(self) -> None:
        if type(self.k) is not int or self.k < 1:
            raise InvalidK(f"k must be an int >= 1, got {self.k!r}")
        if type(self.width) is not int or self.width < 1:
            raise InvalidWidth(f"width must be an int >= 1, got {self.width!r}")
        if type(self.depth) is not int or self.depth < 1:
            raise InvalidDepth(f"depth must be an int >= 1, got {self.depth!r}")
        d = self.decay
        if isinstance(d, bool) or not isinstance(d, numbers.Real) or not 0.0 <= d <= 1.0:
            raise InvalidDecay(f"decay must be in [0, 1] and finite, got {d!r}")
        # a blob carries the seed as a signed 64-bit field
        if type(self.seed) is not int or not 0 <= self.seed < 1 << 63:
            raise BuilderError(f"seed must be an int in [0, 2**63), got {self.seed!r}")

    def check_compatible(self, other: "HKParams") -> None:
        for f in ("width", "depth", "decay", "k", "seed"):
            if getattr(self, f) != getattr(other, f):
                raise SketchCompatError(f, getattr(self, f), getattr(other, f))


class TopKQueue:
    """Bounded min-heap of the K candidates.

    Mirrors TopKQueue semantics (src/priority_queue.rs): ``upsert``
    replaces the heap minimum only when ``count > min_count``
    (:138-189); updates never decrease a tracked count (:104-122);
    ties on equal counts order by insertion sequence, first-in first
    (:204-207).  Implemented as a dict + lazy-deletion heapq (counts
    are monotone, so stale heap entries are always <= live ones).
    """

    __slots__ = ("k", "counts", "seqs", "_heap", "_seq")

    def __init__(self, k: int) -> None:
        self.k = k
        self.counts: dict[bytes, int] = {}
        self.seqs: dict[bytes, int] = {}
        self._heap: list[tuple[int, int, bytes]] = []
        self._seq = 0

    def __len__(self) -> int:
        return len(self.counts)

    def _prune(self) -> None:
        h = self._heap
        while h and self.counts.get(h[0][2]) != h[0][0]:
            heapq.heappop(h)

    def min_count(self) -> int:
        """Count of the heap root, or 0 when not yet full (admit-all)."""
        if len(self.counts) < self.k:
            return 0
        self._prune()
        return self._heap[0][0] if self._heap else 0

    def get(self, item: bytes) -> int | None:
        return self.counts.get(item)

    def update_if_present(self, item: bytes, count: int) -> None:
        """Never decreases (src/priority_queue.rs:104-122)."""
        old = self.counts.get(item)
        if old is not None and count > old:
            self.counts[item] = count
            heapq.heappush(self._heap, (count, self.seqs[item], item))

    def upsert(self, item: bytes, count: int) -> bytes | None:
        """Insert/raise; returns the evicted item if one fell out."""
        old = self.counts.get(item)
        if old is not None:
            if count > old:
                self.counts[item] = count
                heapq.heappush(self._heap, (count, self.seqs[item], item))
            return None
        if len(self.counts) < self.k:
            self._admit(item, count)
            return None
        self._prune()
        if not self._heap or count <= self._heap[0][0]:
            return None  # strictly-greater rule (src/priority_queue.rs:176-188)
        _, _, victim = heapq.heappop(self._heap)
        del self.counts[victim]
        del self.seqs[victim]
        self._admit(item, count)
        return victim

    def _admit(self, item: bytes, count: int) -> None:
        self.counts[item] = count
        self.seqs[item] = self._seq
        self._seq += 1
        heapq.heappush(self._heap, (count, self.seqs[item], item))

    def items_sorted(self) -> list[tuple[bytes, int]]:
        """(count desc, insertion seq asc) — src/priority_queue.rs:191-211."""
        return [
            (it, c)
            for it, c in sorted(
                self.counts.items(), key=lambda kv: (-kv[1], self.seqs[kv[0]])
            )
        ]


def _duel_params(sk) -> tuple[float, int]:
    """``(decay, seed)`` for the native add loop. The ``_force_decay``
    test hook pins decay to 1.0 (every trial decrements) or 0.0 (none
    does), like the reference tests' threshold overwrites
    (src/heavykeeper.rs:766-794). The seed is drawn from ``sk.rng`` on
    every call, so a sketch whose ``rng`` is replaced draws a new
    stream."""
    force = sk._force_decay
    decay = sk.params.decay if force is None else float(force)
    return decay, int(sk.rng.integers(1 << 64, dtype=np.uint64))


def _pq_admit(
    pq: TopKQueue, take_keys, est: np.ndarray, evicted: list | None = None
) -> list | None:
    """Offer the queue every key whose post-batch count ``est`` beats
    its minimum (only those can change it), count desc then key, so
    equal counts get a deterministic insertion sequence. Of more than
    ``k`` such keys, only those reaching the k-th largest ``est`` are
    offered: the offers before any lighter key leave the queue full
    with every count at least that threshold, so the queue would refuse
    it. Only offered keys materialize (``take_keys(positions)``); keys
    pushed out of the queue are appended to ``evicted`` when it is
    given."""
    sel = np.flatnonzero(est > pq.min_count())
    if sel.size > pq.k:
        cut = est[sel]
        sel = sel[cut >= np.partition(cut, sel.size - pq.k)[sel.size - pq.k]]
    if sel.size:
        keys = np.asarray(take_keys(sel), dtype=object)
        counts = est[sel]
        for i in np.lexsort((keys, -counts)):
            victim = pq.upsert(_pq_key(keys[i]), int(counts[i]))
            if victim is not None and evicted is not None:
                evicted.append(victim)
    return evicted


def _owned(fps_at: np.ndarray, cnt_at: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """The one per-row ownership probe: each gathered cell's count
    where it holds the key's fingerprint with a live count, else 0.
    The add path and the merge take its max over rows, ``estimate`` its
    min over the owned rows."""
    return np.where((fps_at == fp) & (cnt_at > 0), cnt_at, _U64(0))


def _heap_counts(pq: TopKQueue, arr: np.ndarray, out: np.ndarray) -> np.ndarray:
    """``out`` with every tracked key's queue count in place of its
    cell estimate (count(), src/heavykeeper.rs:220-246)."""
    if pq.counts:
        get = pq.counts.get
        for i in range(arr.shape[0]):
            c = get(_pq_key(arr[i]))
            if c is not None:
                out[i] = c
    return out


def merge_candidates(pq: TopKQueue, other: list, locate, mine, theirs, union) -> None:
    """The one candidate-merge rule of all three layouts: fold the
    other side's queue ``other`` — ``(key, count)`` pairs in sequence
    order — into ``pq`` around the cell union ``union()``.

    Every candidate's value is its count on the tracking side(s) plus,
    for a key tracked on one side only, the other side's PRE-merge cell
    estimate — the bucket_count fallback of src/bucketed.rs:377-401.
    ``locate(keys)`` hashes the keys once; ``mine(at)`` and
    ``theirs(at)`` read this side's and the other side's cell estimates
    of the located keys. Admission waits until after ``union()``, and
    each key is offered at the larger of its value and this side's
    merged cells, heaviest first (ties: the other side's keys in
    sequence order, then this side's). Admitting first, as a sequential
    merge would, lets a boundary key enter with a stale fallback and
    lose its place by the strictly-greater rule before the cells that
    prove its mass have merged — in a merge tree that loss depends on
    task completion order. The merged cells accumulate exactly in every
    row the key never lost and never exceed its true count, so the
    monotone queue rules hold."""
    counts = pq.counts
    other_keys = dict(other)
    own = [k for k in counts if k not in other_keys]
    keys = [k for k, _ in other] + own
    if not keys:
        union()
        return
    at = locate(_key_array(keys))
    pre, ext, n = mine(at), theirs(at), len(other)
    pending = [c + (counts[k] if k in counts else int(pre[i])) for i, (k, c) in enumerate(other)]
    pending += [counts[k] + int(ext[n + j]) for j, k in enumerate(own)]
    union()
    final = np.maximum(np.asarray(pending, dtype=np.int64), mine(at))
    for i in np.argsort(-final, kind="stable"):
        pq.upsert(keys[i], int(final[i]))


class _TopKSketch:
    """The reference API of all three layouts, written once (README.md:
    48-51: every variant exposes the same API). A layout supplies only
    its cells: ``_add_core(fp, w)`` runs its native add loop over the
    collapsed batch and returns each key's post-batch count,
    ``_count(fp)`` is its bucket_count(), ``_state_dict()`` names its
    state arrays, and it keeps its own ``merge`` and blob codec."""

    #: O3 custom hash family; only HeavyKeeper takes one
    _hasher = None

    def __init__(self, params: HKParams, rng: np.random.Generator | None = None) -> None:
        self.params = params
        self.pq = TopKQueue(params.k)
        # Deterministic per-instance RNG; distributed callers pass
        # Generator(PCG64(seed ^ partition_id)) — analog of the seeded
        # SmallRng (src/heavykeeper.rs:70-83).
        self.rng = rng if rng is not None else np.random.default_rng(params.seed)
        # Test hook: force decay outcomes, mirrors the reference unit
        # tests' threshold overwrites (src/heavykeeper.rs:766-794).
        self._force_decay: bool | None = None

    @classmethod
    def builder(cls) -> "SketchBuilder":
        """Fluent construction (src/heavykeeper.rs:107-109,
        src/bucketed.rs:131, src/cuckoo.rs:190)."""
        return SketchBuilder(cls)

    def _hash(self, items: np.ndarray) -> np.ndarray:
        if self._hasher is not None:
            return np.asarray(
                self._hasher(items, self.params.seed), dtype=np.uint64
            )
        return hash_items(items, self.params.seed)

    # -- O5/O6: weighted batch add -------------------------------------
    def add_batch(
        self,
        items: np.ndarray,
        weights: np.ndarray | None = None,
        return_evicted: bool = False,
    ) -> list | None:
        """Insert a batch of (item, weight) pairs.

        ``preaggregate`` collapses Zipf-skewed batches to near-distinct
        weighted adds — the batch analog of the reference's first-class
        weighted ``add(item, n)`` (src/heavykeeper.rs:273-279). An
        empty batch changes nothing, the RNG stream included.

        ``return_evicted=True`` returns the items that fell OUT of the
        top-K queue during this batch, in eviction order — the batch
        analog of ``add_with_evicted`` (src/heavykeeper.rs:281-354,
        src/bucketed.rs:187-258, src/cuckoo.rs:246-273). Embedding
        callers use the evicted stream to maintain side structures.
        """
        arr = _as_keys(items)
        if arr.size == 0:
            return [] if return_evicted else None
        pos, w, fp = preaggregate(
            arr, weights, self._hash, raw_ints=self._hasher is None
        )
        return _pq_admit(
            self.pq,
            lambda sel: arr[pos[sel]],
            self._add_core(fp, w),
            [] if return_evicted else None,
        )

    def add_batch_hashed(
        self,
        hashes: np.ndarray,
        weights: np.ndarray | None,
        key_take,
    ) -> None:
        """Insert pre-hashed keys WITHOUT materializing them.

        The zero-object string lane: the distributed builders hash
        every row (or token occurrence) straight off the Arrow buffers
        (``hash_string_buffers``), with no dictionary pass, and hand
        this method the hashes, their weights (``None`` counts each
        once) and ``key_take(rows) -> object ndarray``: only the keys
        that enter the top-K queue become Python objects.
        ``hashes`` must come from this sketch's hash
        function (the seeded default family; a custom hasher cannot
        guarantee that, so it is refused).
        """
        if self._hasher is not None:
            raise ValueError(
                "add_batch_hashed requires the seeded default hash family; "
                "a custom-hasher sketch must use add_batch"
            )
        pos, w, fp = preaggregate(np.asarray(hashes, dtype=np.uint64), weights)
        _pq_admit(self.pq, lambda sel: key_take(pos[sel]), self._add_core(fp, w))

    # -- O7/O8: point estimates ----------------------------------------
    def estimate(self, items: np.ndarray, use_heap: bool = True) -> np.ndarray:
        """Vectorized count(): the queue's value if tracked, else the
        layout's cell estimate (src/heavykeeper.rs:220-246).
        ``use_heap=False`` is bucket_count() (src/heavykeeper.rs:248-271).
        """
        arr = _as_keys(items)
        out = self._count(self._hash(arr))
        return _heap_counts(self.pq, arr, out) if use_heap else out

    def contains(self, item: bytes | str | int) -> bool:
        """O9 (src/heavykeeper.rs:177-199)."""
        return bool(self.estimate([item])[0] > 0)

    def query(self, item: bytes | str) -> bool:
        """O10: deprecated alias of ``contains`` (kept for parity with
        the reference, src/heavykeeper.rs:201-209, src/bucketed.rs:299,
        src/cuckoo.rs:326 — deprecated there since 0.6.9)."""
        import warnings

        warnings.warn(
            "query() is a deprecated alias; use contains()",
            DeprecationWarning,
            stacklevel=2,
        )
        return self.contains(item)

    def contains_top_k(self, item: bytes | str | int) -> bool:
        """O11 (src/heavykeeper.rs:211-218)."""
        return _pq_key(item) in self.pq.counts

    # -- O12: ordered candidates ----------------------------------------
    def list(self) -> list[tuple[bytes, int]]:
        return self.pq.items_sorted()

    # -- O13: merge ------------------------------------------------------
    def _check_compat(self, other: "_TopKSketch") -> None:
        """Merge precondition of every layout: the same layout, the
        same hash family and the same params."""
        if type(self) is not type(other):
            raise SketchCompatError("variant", type(self).__name__, type(other).__name__)
        if self._hasher is not other._hasher:
            raise SketchCompatError("hasher", self._hasher, other._hasher)
        self.params.check_compatible(other.params)

    # -- O14: memory audit ------------------------------------------------
    def mem_bytes(self, item_heap_fn=None) -> int:
        """Analog of mem_bytes(item_heap) (src/heavykeeper.rs:388-403).

        Like the reference, the caller may supply ``item_heap_fn(item)
        -> int`` returning the bytes an item owns beyond its inline
        representation (the Rust API takes ``item_heap: Fn(&T) ->
        usize``, e.g. ``String::capacity``; ``|_| 0`` for heap-free
        T). When omitted, keys are costed at ``len(key) + 96`` — the
        key's own bytes plus a fixed per-tracked-item overhead
        covering this implementation's dict/heap entries, mirroring
        the reference's ``size_of::<Bucket>()`` + queue bookkeeping
        terms. Integer keys (the u64 lane) own no bytes beyond the
        overhead, like the reference's ``|_| 0``."""
        heap = item_heap_fn if item_heap_fn is not None else _item_heap
        items = sum(int(heap(k)) + 96 for k in self.pq.counts)
        cells = sum(a.nbytes for a in self._state_dict().values() if isinstance(a, np.ndarray))
        return int(cells + items)

    # -- candidate section of every blob ---------------------------------
    def _cand_section(self) -> list:
        """``(key, count, seq)`` per tracked key, the section
        ``_load_cand`` checks on the way back in."""
        return [(k, int(c), int(self.pq.seqs[k])) for k, c in self.pq.counts.items()]


class HeavyKeeper(_TopKSketch):
    """Mergeable top-K HeavyKeeper sketch over byte-string keys."""

    def __init__(
        self,
        params: HKParams,
        rng: np.random.Generator | None = None,
        hasher=None,
    ) -> None:
        super().__init__(params, rng)
        # O3 (src/heavykeeper.rs:123-131 with_hasher): optional custom
        # vectorized hash fn (items ndarray, seed) -> uint64 ndarray.
        # Merging requires both sides to use the same hash family, and
        # a custom-hasher sketch refuses serialize() (a blob can't
        # carry code; the reference has the same same-hasher contract).
        self._hasher = hasher
        self.fps = np.zeros((params.depth, params.width), dtype=np.uint64)
        self.counts = np.zeros((params.depth, params.width), dtype=np.uint64)

    # -- construction helpers (reference builder surface, O1/O2/O4) ----
    @classmethod
    def new(cls, k: int, width: int, depth: int, decay: float = 0.9) -> "HeavyKeeper":
        return cls(HKParams(k=k, width=width, depth=depth, decay=decay))

    @classmethod
    def with_seed(
        cls, k: int, width: int, depth: int, decay: float, seed: int
    ) -> "HeavyKeeper":
        return cls(HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed))

    @classmethod
    def with_hasher(
        cls, k: int, width: int, depth: int, decay: float, seed: int, hasher
    ) -> "HeavyKeeper":
        """O3: user-supplied vectorized hash family
        ``(items: ndarray, seed: int) -> uint64 ndarray``."""
        return cls(
            HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed),
            hasher=hasher,
        )

    def _state_dict(self) -> dict:
        return {"fps": self.fps, "counts": self.counts}

    def _add_core(self, fp: np.ndarray, w: np.ndarray) -> np.ndarray:
        cells = self._cells(fp)
        native.hk_add(self.fps, self.counts, cells, fp, w, *_duel_params(self))
        # Re-probe: each key's count is the max over the rows where it
        # owns the cell (paper Algorithm 1's monotone heap rule uses the
        # per-add max; probing once after the batch is equivalent up to
        # intra-batch evictions, and offers the heap each key once).
        return self._cell_max((fp, cells))

    def _cells(self, fp: np.ndarray) -> np.ndarray:
        """Flat cell ids ``(depth, n)``: row d of key i is cell
        ``d * width + idx[d, i]``."""
        p = self.params
        cells = compose_indices(fp, p.depth, p.width)
        cells += (np.arange(p.depth, dtype=np.intp) * p.width)[:, None]
        return cells

    def _locate(self, items: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """``(fp, cells)`` of a key batch: hashed and composed once,
        then probed as often as a caller needs (``_probe``)."""
        fp = self._hash(items)
        return fp, self._cells(fp)

    def _probe(self, at: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
        """``_owned`` over this sketch's cells of located keys."""
        fp, cells = at
        return _owned(self.fps.reshape(-1)[cells], self.counts.reshape(-1)[cells], fp)

    def _cell_max(self, at: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
        """MAX over rows whose cell this key owns (0 if none).

        Every owned cell accumulates ONLY its key's own weight, so each
        is a lower bound on the true count and the least-chipped row is
        the best sound estimate. The public ``count()``/``estimate``
        keep the reference's MIN semantics (``_count``); this internal
        estimator serves the add path's heap offers and the merge,
        where light colliders' early decay chips would otherwise bias
        boundary candidates low."""
        return self._probe(at).max(axis=0).astype(np.int64)

    def _count(self, fp: np.ndarray) -> np.ndarray:
        """MIN over rows with a matching fingerprint, else 0
        (src/heavykeeper.rs:248-271)."""
        owned = self._probe((fp, self._cells(fp)))
        live = owned > 0
        low = np.where(live, owned, _U64(np.iinfo(np.uint64).max)).min(axis=0)
        return np.where(live.any(axis=0), low, 0).astype(np.int64)

    def merge(self, other: "HeavyKeeper") -> "HeavyKeeper":
        """In-place union; see module docstring for semantics & parity."""
        self._check_compat(other)
        idx = np.flatnonzero(other.counts)
        # the queue's dict order is its admission (sequence) order
        return self._merge_cells(
            other.params,
            idx,
            other.fps.reshape(-1)[idx],
            other.counts.reshape(-1)[idx],
            list(other.pq.counts.items()),
        )

    def _merge_cells(
        self,
        params: HKParams,
        idx: np.ndarray,
        ofps: np.ndarray,
        ocnt: np.ndarray,
        cand: list,
    ) -> "HeavyKeeper":
        """The one merge body: fold in another sketch given as its live
        cells — flat ids ``idx`` strictly ascending, fingerprints
        ``ofps`` and counts ``ocnt`` > 0 — and its candidates ``cand``,
        ``(key, count)`` pairs in sequence order. A count-0 cell of the
        other side changes nothing in the union (an equal fingerprint
        adds nothing, an empty cell stays empty), so touching only the
        live cells costs O(nnz), not O(depth x width). The other side's
        cells are probed with one ``searchsorted`` over ``idx``."""
        self.params.check_compatible(params)
        fps, cnt = self.fps.reshape(-1), self.counts.reshape(-1)

        def theirs(at):
            fp, cells = at
            if not idx.size:
                return np.zeros(fp.shape[0], dtype=np.int64)
            pos = np.minimum(np.searchsorted(idx, cells), idx.size - 1)
            rows = np.where(idx[pos] == cells, _owned(ofps[pos], ocnt[pos], fp), _U64(0))
            return rows.max(axis=0).astype(np.int64)

        def union():
            # src/heavykeeper.rs:437-448: equal fp -> add; self empty ->
            # copy other; else keep self
            cur_fp, cur_cnt = fps[idx], cnt[idx]
            same = (cur_cnt > 0) & (cur_fp == ofps)
            if same.any():
                cnt[idx[same]] = cur_cnt[same] + ocnt[same]
            empty = cur_cnt == 0
            if empty.any():
                fps[idx[empty]] = ofps[empty]
                cnt[idx[empty]] = ocnt[empty]

        merge_candidates(self.pq, cand, self._locate, self._cell_max, theirs, union)
        return self

    # -- O15: debug dump ---------------------------------------------------
    def describe(self) -> dict:
        nz = int((self.counts > 0).sum())
        return {
            "params": self.params.__dict__,
            "nonzero_cells": nz,
            "fill": nz / (self.params.depth * self.params.width),
            "tracked": len(self.pq),
            "mem_bytes": self.mem_bytes(),
        }

    def debug(self) -> dict:
        """O15 parity (src/heavykeeper.rs:460-496): the non-zero bucket
        dump sorted by count desc (ties by row, col) plus the queue
        contents in (count desc, insertion seq) order, alongside the
        summary stats."""
        d, w = np.nonzero(self.counts)
        cnt = self.counts[d, w].astype(np.int64)
        order = np.lexsort((w, d, -cnt))
        buckets = [
            {
                "row": int(d[i]),
                "col": int(w[i]),
                "fingerprint": int(self.fps[d[i], w[i]]),
                "count": int(cnt[i]),
            }
            for i in order
        ]
        return {
            **self.describe(),
            "buckets": buckets,
            "queue": [
                {"item": _item_repr(it), "count": int(c)}
                for it, c in self.pq.items_sorted()
            ],
        }

    # -- serialization ------------------------------------------------------
    def serialize(self) -> bytes:
        if self._hasher is not None:
            raise ValueError(
                "sketch with a custom hasher cannot be serialized: the blob "
                "format cannot carry the hash function; use the seeded "
                "default family for distributed/persisted sketches"
            )
        p = self.params
        buf = io.BytesIO()
        nz_flat = np.flatnonzero(self.counts.reshape(-1))
        cells = p.depth * p.width
        # Sparse layout (v2) when the bucket array is mostly empty —
        # an over-provisioned width (exact-regime sizing) would
        # otherwise ship depth*width*16 bytes per partial through every
        # shuffle; sparse ships 24 bytes per LIVE cell instead.
        if nz_flat.size * 3 < cells:
            buf.write(_HEADER.pack(_MAGIC, 2, p.k, p.width, p.depth, p.decay, p.seed))
            buf.write(struct.pack("<q", nz_flat.size))
            buf.write(nz_flat.astype(np.int64).tobytes())
            buf.write(self.fps.reshape(-1)[nz_flat].tobytes())
            buf.write(self.counts.reshape(-1)[nz_flat].tobytes())
        else:
            buf.write(_HEADER.pack(_MAGIC, 1, p.k, p.width, p.depth, p.decay, p.seed))
            buf.write(self.fps.tobytes())
            buf.write(self.counts.tobytes())
        buf.write(serde_dumps(self._cand_section()))
        return buf.getvalue()

    @classmethod
    def deserialize(cls, blob: bytes) -> "HeavyKeeper":
        params, idx, fps, cnt, cand = _parse_blob(blob)
        sk = cls(params)
        sk.fps.reshape(-1)[idx] = fps
        sk.counts.reshape(-1)[idx] = cnt
        for item, c in cand:
            sk.pq.upsert(item, c)
        return sk


def _sniff_legacy_pickle(head: bytes) -> None:
    """Blobs from builds before the serde codec carried a PICKLE
    candidate section under the same magic/version bytes; decoding it
    as serde would fail mid-stream with an opaque 'unknown tag N'.
    Pickle protocol >= 2 streams start with 0x80 — never a valid serde
    tag (tags are 0..9) — so sniff and fail with a clear message."""
    if head[:1] == b"\x80":
        raise ValueError(
            "sketch blob was written by an older incompatible version of "
            "this library (pickled candidate section); rebuild the sketch"
        )



class SketchBuilder:
    """Fluent builder — 1:1 with the reference's ``builder()`` API
    (src/heavykeeper.rs:503-578, src/bucketed.rs:515-560,
    src/cuckoo.rs builders): ``HeavyKeeper.builder().k(100)
    .width(4096).depth(4).decay(0.9).seed(7).build()``. Validation
    happens in ``build()`` via HKParams (the same Invalid* errors the
    reference's BuilderError surface maps to); ``hasher`` mirrors the
    reference's custom RandomState hook."""

    def __init__(self, cls) -> None:
        self._cls = cls
        self._k = None
        self._width = None
        self._depth = None
        self._decay = 0.9
        self._seed = _DEFAULT_SEED
        self._hasher = None
        self._max_kicks = None

    def k(self, k: int) -> "SketchBuilder":
        self._k = int(k)
        return self

    def width(self, width: int) -> "SketchBuilder":
        self._width = int(width)
        return self

    def depth(self, depth: int) -> "SketchBuilder":
        self._depth = int(depth)
        return self

    def decay(self, decay: float) -> "SketchBuilder":
        self._decay = float(decay)
        return self

    def seed(self, seed: int) -> "SketchBuilder":
        self._seed = int(seed)
        return self

    def hasher(self, hasher) -> "SketchBuilder":
        self._hasher = hasher
        return self

    def max_kicks(self, max_kicks: int) -> "SketchBuilder":
        """CuckooTopK only (src/cuckoo.rs builder)."""
        self._max_kicks = int(max_kicks)
        return self

    def build(self):
        if self._k is None or self._width is None or self._depth is None:
            raise InvalidK("builder requires k(), width() and depth()")
        params = HKParams(
            k=self._k, width=self._width, depth=self._depth,
            decay=self._decay, seed=self._seed,
        )
        if self._cls is HeavyKeeper:
            if self._max_kicks is not None:
                raise ValueError("max_kicks applies to the cuckoo layout only")
            return HeavyKeeper(params, hasher=self._hasher)
        if self._hasher is not None:
            raise ValueError(
                "variant layouts use the seeded default hash family; "
                "hasher() applies to the canonical HeavyKeeper only"
            )
        kwargs = {}
        if self._max_kicks is not None:
            kwargs["max_kicks"] = self._max_kicks
        return self._cls(
            params.k, params.width, params.depth, params.decay, params.seed,
            **kwargs,
        )

def _item_repr(x: object):
    """JSON-friendly item for debug(): utf-8 text when it decodes, hex
    otherwise; ints pass through."""
    if isinstance(x, (int, np.integer)):
        return int(x)
    b = x if isinstance(x, bytes) else str(x).encode()
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.hex()


def _as_bytes(x: object) -> bytes:
    if isinstance(x, bytes):
        return x
    if isinstance(x, str):
        return x.encode("utf-8")
    return str(x).encode("utf-8")


def _pq_key(x: object):
    """Canonical candidate-dict key: python int for integer keys (the
    u64 fast path), utf-8 bytes otherwise."""
    if isinstance(x, (int, np.integer)):
        return int(x)
    return _as_bytes(x)


def _item_heap(item) -> int:
    """Default ``item_heap_fn`` of ``mem_bytes``: the bytes a str/bytes
    key owns; 0 for integer keys."""
    return len(item) if isinstance(item, (bytes, str)) else 0


def _key_array(keys: list) -> np.ndarray:
    """Rebuild a key array that hashes as the insert path did: integer
    keys as int64, or, when one does not fit, all as ``uint64`` of ``k
    mod 2**64`` (the bits both int lanes hash); others as objects."""
    if not (keys and all(isinstance(k, (int, np.integer)) for k in keys)):
        return np.asarray(keys, dtype=object)
    try:
        return np.asarray(keys, dtype=np.int64)
    except OverflowError:
        return np.asarray([int(k) % (1 << 64) for k in keys], dtype=np.uint64)


def _load_cand(cand, k: int) -> list:
    """The checked candidate section of every layout's blob: a list of
    at most ``k`` ``(key, count, seq)`` triples with distinct bytes or
    int keys, int counts >= 0 and int seqs (bools are not ints).
    Returns the ``(key, count)`` pairs in sequence order, the order the
    queue admitted them; anything else raises ValueError, so a hostile
    section never reaches a queue or a merge."""
    if not isinstance(cand, list) or len(cand) > k:
        raise ValueError(f"candidate section must be a list of at most k={k} triples")
    if not cand:
        return []
    if set(map(type, cand)) != {list} or set(map(len, cand)) != {3}:
        raise ValueError("candidate section must hold (key, count, seq) triples")
    keys, counts, seqs = zip(*cand)
    key_types = set(map(type, keys))
    ints = [x for x in keys if type(x) is int] or [0]
    if not (
        key_types <= {bytes, int}
        and set(map(type, counts + seqs)) == {int}
        and 0 <= min(counts) <= max(counts) < 1 << 63
        and -(1 << 63) <= min(ints) <= max(ints) < 1 << 64
    ):
        raise ValueError("candidates must be (bytes|int key, int count >= 0, int seq)")
    if len(set(keys)) < len(keys):
        raise ValueError("duplicate candidate keys")
    return [(key, c) for key, c, _ in sorted(cand, key=lambda t: t[2])]


def _parse_blob(blob: bytes):
    """``(params, idx, fps, cnt, cand)`` of an HKS1 blob of either
    layout — the one parser: ``deserialize`` scatters the cells, and
    ``merge_blobs`` hands them to ``_merge_cells`` in place. ``idx``
    holds the flat ids of the live cells, strictly ascending, ``fps``
    and ``cnt`` their fingerprints and counts, and ``cand`` the checked
    candidates (``_load_cand``). A dense (v1) blob stores every cell,
    and its live ones are found with ``flatnonzero``; a sparse (v2)
    blob stores only those, and a cell id list that is not strictly
    ascending or in range, or a stored zero count, raises ValueError
    (``_merge_cells`` binary-searches the ids)."""
    hs = _HEADER.size
    if len(blob) < hs + 8:
        raise ValueError("truncated HeavyKeeper blob")
    magic, ver, k, width, depth, decay, seed = _HEADER.unpack_from(blob)
    if magic != _MAGIC or ver not in (1, 2):
        raise ValueError("not a HeavyKeeper v1/v2 blob")
    params = HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed)
    cells = depth * width
    if ver == 1:
        off = hs + 16 * cells
        if off > len(blob):
            raise ValueError("truncated dense HeavyKeeper blob")
        cnt = np.frombuffer(blob, np.uint64, cells, hs + 8 * cells)
        idx = np.flatnonzero(cnt)
        fps = np.frombuffer(blob, np.uint64, cells, hs)[idx]
        cnt = cnt[idx]
    else:
        (nnz,) = struct.unpack_from("<q", blob, hs)
        off = hs + 8 + 24 * nnz
        if nnz < 0 or off > len(blob):
            raise ValueError("bad sparse cell count")
        idx, fps, cnt = (
            np.frombuffer(blob, dt, nnz, hs + 8 + 8 * nnz * j)
            for j, dt in enumerate((np.int64, np.uint64, np.uint64))
        )
        if nnz > 1 and not (idx[1:] > idx[:-1]).all():
            raise ValueError("sparse cell ids not strictly ascending")
        if nnz and (idx[0] < 0 or idx[-1] >= cells):
            raise ValueError("sparse cell index out of range")
        if not cnt.all():
            raise ValueError("sparse cell with a zero count")
    _sniff_legacy_pickle(blob[off : off + 2])
    return params, idx, fps, cnt, _load_cand(serde_loads(blob[off:]), params.k)


def merge_blobs(blobs: list[bytes]) -> bytes:
    """Associative reduce over serialized sketches (combine stage):
    every blob after the first is parsed and folded in by the one merge
    body, ``_merge_cells``, which touches only its live cells."""
    it = iter(blobs)
    acc = HeavyKeeper.deserialize(next(it))
    for b in it:
        acc._merge_cells(*_parse_blob(b))
    return acc.serialize()
