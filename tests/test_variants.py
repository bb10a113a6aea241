"""BucketedTopK / CuckooTopK tests mirroring the reference variant
suites (src/bucketed.rs:600-1177, src/cuckoo.rs:883-1449) plus the
shared accuracy floors of tests/accuracy_compare.rs for all variants."""

import collections

import numpy as np
import pytest

from heavykeeper_rs_spark.errors import BuilderError, SketchCompatError
from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams, merge_blobs
from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK, deserialize_any


def obj(*xs):
    return np.asarray(
        [x.encode() if isinstance(x, str) else x for x in xs], dtype=object
    )


class TestBucketed:
    def test_exact_uncontended(self):
        sk = BucketedTopK(10, 512, 4)
        sk.add_batch(obj(*[f"k{i}" for i in range(20) for _ in range(i + 1)]))
        est = sk.estimate(obj(*[f"k{i}" for i in range(20)]))
        assert list(est) == [i + 1 for i in range(20)]

    def test_first_empty_then_min_duel(self):
        # width=1: single bucket of 2 cells
        sk = BucketedTopK(5, 1, 2)
        sk._force_decay = False
        sk.add_batch(obj("a"), np.array([10]))
        sk.add_batch(obj("b"), np.array([3]))  # second cell
        sk.add_batch(obj("c"), np.array([100]))  # duel min (b) -> forced off, loses
        assert sk.estimate(obj("a", "b"), use_heap=False).tolist() == [10, 3]
        assert sk.estimate(obj("c"), use_heap=False)[0] == 0
        sk._force_decay = True
        sk.add_batch(obj("d"), np.array([7]))  # duels min cell (b=3): 7-3=4... seizes
        assert sk.estimate(obj("b"), use_heap=False)[0] == 0
        assert sk.estimate(obj("d"), use_heap=False)[0] == 5  # 7 - (3-1) - 1 + 1

    def test_merge_overflow_evicts_min(self):
        # mirror src/bucketed.rs:939-971: full self bucket, other cell
        # with larger count replaces the min
        a = BucketedTopK(5, 1, 2)
        b = BucketedTopK(5, 1, 2)
        a._force_decay = False
        b._force_decay = False
        a.add_batch(obj("x"), np.array([10]))
        a.add_batch(obj("y"), np.array([5]))
        b.add_batch(obj("z"), np.array([8]))
        a.merge(b)
        assert a.estimate(obj("x"), use_heap=False)[0] == 10
        assert a.estimate(obj("z"), use_heap=False)[0] == 8  # evicted min y
        assert a.estimate(obj("y"), use_heap=False)[0] == 0

    def test_merge_slot_order_independence(self):
        # src/bucketed.rs:898-937: same items placed in different slot
        # orders merge to the same estimates
        a1 = BucketedTopK(5, 1, 3)
        a2 = BucketedTopK(5, 1, 3)
        for sk, order in ((a1, ["a", "b", "c"]), (a2, ["c", "a", "b"])):
            sk._force_decay = False
            for i, k in enumerate(order):
                sk.add_batch(obj(k), np.array([10 * (ord(k[0]) - 96)]))
        m = BucketedTopK(5, 1, 3)
        m._force_decay = False
        m.merge(a1)
        m2 = BucketedTopK(5, 1, 3)
        m2._force_decay = False
        m2.merge(a2)
        for k in ("a", "b", "c"):
            assert (
                m.estimate(obj(k), use_heap=False)[0]
                == m2.estimate(obj(k), use_heap=False)[0]
            )

    def test_failed_eviction_purity(self):
        sk = BucketedTopK(5, 1, 1)
        sk._force_decay = False
        sk.add_batch(obj("A"), np.array([10]))
        sk.add_batch(obj("B"), np.array([3]))
        assert not sk.contains_top_k("B")
        assert sk.estimate(obj("B"))[0] == 0

    def test_compat_errors(self):
        a = BucketedTopK(5, 64, 2)
        with pytest.raises(SketchCompatError):
            a.merge(BucketedTopK(5, 128, 2))
        with pytest.raises(SketchCompatError):
            a.merge(CuckooTopK(5, 64, 2))

    def test_roundtrip(self):
        sk = BucketedTopK(10, 128, 4)
        sk.add_batch(obj(*[f"k{i % 30}" for i in range(500)]))
        back = BucketedTopK.deserialize(sk.serialize())
        assert (back.fps == sk.fps).all() and (back.counts == sk.counts).all()
        assert back.list() == sk.list()


class TestCuckoo:
    def test_exact_uncontended(self):
        sk = CuckooTopK(10, 512, 4)
        sk.add_batch(obj(*[f"k{i}" for i in range(20) for _ in range(i + 1)]))
        est = sk.estimate(obj(*[f"k{i}" for i in range(20)]))
        assert list(est) == [i + 1 for i in range(20)]

    def test_heavy_hit_no_decay(self):
        sk = CuckooTopK(5, 64, 2)
        sk.add_batch(obj("a"), np.array([5]))  # promoted to heavy (empty slot)
        sk._force_decay = False  # decay can't touch heavy slots anyway
        sk.add_batch(obj("a"), np.array([7]))
        assert sk.estimate(obj("a"))[0] == 12

    def test_two_candidate_capacity(self):
        # src/cuckoo.rs:945-969: items spread across both candidate
        # buckets; all retained with ample room
        sk = CuckooTopK(20, 64, 2)
        items = [f"it{i}" for i in range(30)]
        for it in items:
            sk.add_batch(obj(it), np.array([10]))
        est = sk.estimate(obj(*items))
        assert (est == 10).all()

    def test_seed_determinism(self):
        # src/cuckoo.rs:1039-1057
        data = obj(*[f"u{i % 97}" for i in range(5000)])
        a = CuckooTopK(10, 32, 2, seed=7)
        b = CuckooTopK(10, 32, 2, seed=7)
        a.add_batch(data)
        b.add_batch(data)
        assert (a.heavy_c == b.heavy_c).all() and (a.lobby_c == b.lobby_c).all()
        assert a.list() == b.list()

    def test_merge_folds_lobby_into_heavy(self):
        # src/cuckoo.rs:1264-1298: an item heavy in self and lobbied in
        # other ends up as a single summed heavy entry
        a = CuckooTopK(5, 4, 1, seed=3)
        b = CuckooTopK(5, 4, 1, seed=3)
        a.add_batch(obj("hot"), np.array([50]))  # heavy in a
        # make 'hot' a lobby resident in b: fill b's heavy slots first
        b._force_decay = False

        probe = [f"f{i}" for i in range(200)]
        hot_b1 = a._pair(a._hash(obj("hot")))[0][0]
        fillers = [
            p
            for p in probe
            if b._pair(b._hash(obj(p)))[0][0] == hot_b1
        ][:1]
        if fillers:
            b.add_batch(obj(fillers[0]), np.array([100]))  # occupies heavy slot
        b.add_batch(obj("hot"), np.array([9]))  # lands in lobby (heavy full)
        assert b.estimate(obj("hot"), use_heap=False)[0] in (9, 9 + 0)
        a.merge(b)
        assert a.estimate(obj("hot"))[0] == 59

    def test_merge_deterministic_no_decay(self):
        a1 = CuckooTopK(10, 16, 2, seed=5)
        a2 = CuckooTopK(10, 16, 2, seed=5)
        parts = []
        for pid in range(4):
            sk = CuckooTopK(10, 16, 2, seed=5)
            sk.add_batch(obj(*[f"k{i}" for i in range(10) for _ in range(i + pid + 1)]))
            parts.append(sk.serialize())
        for i in range(4):
            a1.merge(CuckooTopK.deserialize(parts[i]))
            a2.merge(CuckooTopK.deserialize(parts[3 - i]))
        # deterministic merges: same estimates regardless of order for
        # uncontended keys
        keys = obj(*[f"k{i}" for i in range(10)])
        assert (a1.estimate(keys) == a2.estimate(keys)).all()

    def test_max_kicks_plumbing(self):
        with pytest.raises(ValueError):
            CuckooTopK(5, 8, 2, max_kicks=0)
        a = CuckooTopK(5, 8, 2, max_kicks=4)
        b = CuckooTopK(5, 8, 2, max_kicks=8)
        with pytest.raises(SketchCompatError):
            a.merge(b)

    def test_roundtrip(self):
        sk = CuckooTopK(10, 64, 2)
        sk.add_batch(obj(*[f"k{i % 30}" for i in range(500)]))
        back = CuckooTopK.deserialize(sk.serialize())
        assert (back.heavy_c == sk.heavy_c).all()
        assert back.max_kicks == sk.max_kicks
        assert back.list() == sk.list()


@pytest.mark.parametrize(
    "make",
    [
        lambda: HeavyKeeper(HKParams(k=5, width=256, depth=4)),
        lambda: BucketedTopK(5, 256, 4),
        lambda: CuckooTopK(5, 256, 4),
    ],
    ids=["HeavyKeeper", "BucketedTopK", "CuckooTopK"],
)
def test_merge_pq_sums(make):
    """src/bucketed.rs:973-1000, on every layout under the shared
    candidate rule: a key tracked on both sides sums, a key tracked on
    one side keeps its count plus the other side's (empty) cells."""
    a, b = make(), make()
    a.add_batch(obj(*(["x"] * 7 + ["y"] * 2)))
    b.add_batch(obj(*(["x"] * 3 + ["z"] * 4)))
    a.merge(b)
    assert a.list() == [(b"x", 10), (b"z", 4), (b"y", 2)]


@pytest.mark.parametrize("cls", [BucketedTopK, CuckooTopK])
def test_accuracy_floor_zipf12(cls):
    """hit_ratio >= 0.50 at s=1.2 (tests/accuracy_compare.rs floors),
    width=256 depth=4 decay=0.9, for both variants."""
    rng = np.random.default_rng(0xACC04ACC)
    ranks = np.arange(1, 1_000_001, dtype=np.float64)
    cdf = np.cumsum(ranks**-1.2)
    cdf /= cdf[-1]
    stream = np.searchsorted(cdf, rng.random(500_000)).astype(np.int64)
    sk = cls(100, 256, 4, 0.9, 12345)
    keys = stream.astype(str).astype(object)
    for chunk in np.array_split(keys, 8):
        sk.add_batch(chunk)
    truth = collections.Counter(stream)
    top = {str(k).encode() for k, _ in truth.most_common(100)}
    got = {item for item, _ in sk.list()}
    hit = len(got & top) / 100
    assert hit >= 0.50, hit


#: (b1, b2) of 16 fingerprints at widths 4096, 4000 and 1, as the
#: vectorized NumPy bucket_pair computed them; persisted HKC1 blobs
#: place their heavy cells by these values
_PAIR_FPS = [
    0x0, 0x1, 0xFFFFFFFFFFFFFFFF, 0x9E3779B97F4A7C15, 0xFFF, 0x1000, 0xF9F, 0xFA0,
    0xB412A680A05B073, 0x3C244268AA865E2E, 0x8B81F9AD4DA924D9, 0xDDB5657FF0F6CD25,
    0x40B2ED0E579AB6F5, 0xBD08422DA056114D, 0x25ED1A8D762FEED5, 0x88D6AB791086CEDE,
]
_PAIRS = {
    4096: [(0, 3503), (1, 3104), (4095, 196), (3093, 0), (4095, 1580), (0, 3341),
           (3999, 1476), (4000, 61), (115, 116), (3630, 3631), (1241, 2713),
           (3365, 1637), (1781, 2387), (333, 3390), (3797, 3828), (3806, 2705)],
    4000: [(0, 3535), (1, 3936), (3615, 452), (2485, 0), (95, 2092), (96, 77),
           (3999, 3396), (0, 1181), (2323, 1331), (430, 46), (2809, 2810), (773, 774),
           (2901, 1459), (1773, 3710), (2837, 1268), (2430, 3921)],
    1: [(0, 0)] * 16,
}


@pytest.mark.parametrize("width", sorted(_PAIRS))
def test_cuckoo_bucket_pair_known_answers(width):
    """bucket_pair pinned: b1 = fp mod width, b2 from the salted
    splitmix64 finalizer, moved on by one when it equals b1 (entries
    8-11 at 4096 and 10-11 at 4000), (b1, b1) at width 1."""
    b1, b2 = CuckooTopK(4, width, 4)._pair(np.asarray(_PAIR_FPS, dtype=np.uint64))
    assert list(zip(b1.tolist(), b2.tolist())) == _PAIRS[width]


# -- Python reference of the Cuckoo add and merge: the per-item sequence
# (src/cuckoo.rs:635-707 and 471-549) the native loop must equal bit for
# bit. The lobby duel is modelled only where it is deterministic: decay
# 1.0 (every unit decrements) and 0.0 (none does).

_M64 = (1 << 64) - 1


def _ref_pair(fp: int, width: int) -> tuple[int, int]:
    b1 = fp % width
    if width == 1:
        return b1, b1
    x = fp ^ 0x9E3779B97F4A7C15
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    b2 = (x ^ (x >> 31)) % width
    return b1, (b2 + 1) % width if b2 == b1 else b2


class _RefCuckoo:
    def __init__(self, sk: CuckooTopK) -> None:
        self.width, self.depth = sk.params.width, sk.params.depth
        self.max_kicks = sk.max_kicks
        self.lfp = sk.lobby_fp.tolist()
        self.lc = sk.lobby_c.tolist()
        self.hfp = sk.heavy_fp.tolist()
        self.hc = sk.heavy_c.tolist()

    def assert_equals(self, sk: CuckooTopK) -> None:
        assert sk.lobby_fp.tolist() == self.lfp
        assert sk.lobby_c.tolist() == self.lc
        assert sk.heavy_fp.tolist() == self.hfp
        assert sk.heavy_c.tolist() == self.hc

    def _buckets(self, b1, b2):
        return (b1, b2) if b1 != b2 else (b1,)

    def _find_heavy(self, fp, b1, b2):
        for b in self._buckets(b1, b2):
            for i in range(self.depth):
                if self.hc[b][i] > 0 and self.hfp[b][i] == fp:
                    return b, i
        return None

    def _argmin(self, b):
        return self.hc[b].index(min(self.hc[b]))

    def _set(self, b, i, fp, c):
        self.hfp[b][i], self.hc[b][i] = fp, c

    def _min_heavy(self, b1, b2):
        i1 = self._argmin(b1)
        c1 = self.hc[b1][i1]
        if b2 == b1:
            return b1, i1, c1
        i2 = self._argmin(b2)
        c2 = self.hc[b2][i2]
        return (b2, i2, c2) if c2 < c1 else (b1, i1, c1)

    def _relocate(self, fp, count, from_b):
        for _ in range(self.max_kicks):
            if count == 0:
                return
            p, a = _ref_pair(fp, self.width)
            target = a if from_b == p else p
            if target == from_b:
                return
            i = self._argmin(target)
            tc = self.hc[target][i]
            if tc == 0:
                self._set(target, i, fp, count)
                return
            if count <= tc:
                return
            ofp = self.hfp[target][i]
            self._set(target, i, fp, count)
            fp, count, from_b = ofp, tc, target

    def _place(self, fp, count, b1, b2) -> bool:
        for b in self._buckets(b1, b2):
            if 0 in self.hc[b]:
                self._set(b, self.hc[b].index(0), fp, count)
                return True
        vb, vi, vc = self._min_heavy(b1, b2)
        if count <= vc:
            return False
        vfp, vcount = self.hfp[vb][vi], self.hc[vb][vi]
        self._set(vb, vi, fp, count)
        self._relocate(vfp, vcount, vb)
        return True

    def add(self, fp: int, w: int, decay: float) -> int:
        b1, b2 = _ref_pair(fp, self.width)
        at = self._find_heavy(fp, b1, b2)
        if at is not None:
            self.hc[at[0]][at[1]] += w
            return self.hc[at[0]][at[1]]
        c = self.lc[b1]
        if c == 0 or self.lfp[b1] == fp:
            self.lfp[b1], self.lc[b1] = fp, c + w
        elif decay == 1.0 and w >= c:  # the c-th unit converts the cell
            self.lfp[b1], self.lc[b1] = fp, w - c + 1
        elif decay == 1.0:
            self.lc[b1] = c - w
        if not (self.lc[b1] > 0 and self.lfp[b1] == fp):
            return 0
        lc = self.lc[b1]
        if self._place(fp, lc, b1, b2):
            self.lfp[b1], self.lc[b1] = 0, 0
            return lc
        return 0

    def merge(self, other: CuckooTopK) -> None:
        cells = [
            (fp, c)
            for fp, c in zip(other.heavy_fp.reshape(-1).tolist(), other.heavy_c.reshape(-1).tolist())
            if c > 0
        ]
        tail = []
        for fp, c in cells:  # mass on both sides sums first
            p, a = _ref_pair(fp, self.width)
            lobby = self.lc[p] > 0 and self.lfp[p] == fp
            at = None if lobby else self._find_heavy(fp, p, a)
            if at is None:
                tail.append((fp, c))
            else:
                self.hc[at[0]][at[1]] += c
        for fp, count in tail:
            p, a = _ref_pair(fp, self.width)
            if self.lc[p] > 0 and self.lfp[p] == fp:
                count += self.lc[p]
                self.lfp[p], self.lc[p] = 0, 0
            at = self._find_heavy(fp, p, a)
            if at is not None:
                self.hc[at[0]][at[1]] += count
            else:
                self._place(fp, count, p, a)
        for fp, c in zip(other.lobby_fp.tolist(), other.lobby_c.tolist()):
            if c == 0:
                continue
            p, a = _ref_pair(fp, self.width)
            at = self._find_heavy(fp, p, a)
            if at is not None:
                self.hc[at[0]][at[1]] += c
            elif self.lc[p] > 0 and self.lfp[p] == fp:
                self.lc[p] += c
            elif self.lc[p] == 0 or c > self.lc[p]:
                self.lfp[p], self.lc[p] = fp, c


def _contested_keys(rng, n, string_keys):
    """A skewed batch over a universe larger than the small sketches."""
    keys = rng.zipf(1.3, n) % 400
    return obj(*[f"s{k}" for k in keys]) if string_keys else keys.astype(np.int64)


def _fuzz_sketch(rng):
    width = int(rng.integers(1, 65))
    depth = int(rng.integers(1, 5))
    return CuckooTopK(8, width, depth, seed=int(rng.integers(1 << 30)),
                      max_kicks=int(rng.integers(1, 9)))


@pytest.mark.parametrize("string_keys", [False, True], ids=["int", "str"])
def test_cuckoo_add_matches_python_reference(string_keys):
    """The native add equals the per-item reference bit for bit on the
    lobby and heavy arrays and the post-add estimates, across widths
    1-64, depths 1-4 and max_kicks 1-8, at both deterministic decays,
    starting from contested states built by the native loop."""
    from heavykeeper_rs_spark import native
    from heavykeeper_rs_spark.kernel import _duel_params, preaggregate

    rng = np.random.default_rng(20261019 + string_keys)
    for trial in range(120):
        sk = _fuzz_sketch(rng)
        for _ in range(int(rng.integers(0, 3))):  # a contested start
            sk.add_batch(_contested_keys(rng, 300, string_keys))
        sk._force_decay = bool(trial % 2)
        for _ in range(2):
            keys = _contested_keys(rng, int(rng.integers(1, 400)), string_keys)
            weights = rng.integers(1, 6, keys.shape[0])
            _, w, fp = preaggregate(keys, weights, sk._hash)
            ref = _RefCuckoo(sk)
            want = [ref.add(f, x, float(sk._force_decay)) for f, x in zip(fp.tolist(), w.tolist())]
            got = native.cuckoo_add(*sk._native_state(), fp, w, *_duel_params(sk))
            assert got.tolist() == want, trial
            ref.assert_equals(sk)


@pytest.mark.parametrize("string_keys", [False, True], ids=["int", "str"])
def test_cuckoo_merge_matches_python_reference(string_keys):
    """The native heavy-cell merge, with the vectorized lobby fold
    after it, equals the sequential reference bit for bit, at the
    sketches' own decay (a merge never decays)."""
    rng = np.random.default_rng(19 + string_keys)
    for trial in range(120):
        a = _fuzz_sketch(rng)
        p = a.params
        b = CuckooTopK(p.k, p.width, p.depth, p.decay, p.seed, max_kicks=a.max_kicks,
                       rng=np.random.default_rng(trial))
        for sk in (a, b):
            for _ in range(int(rng.integers(1, 4))):
                sk.add_batch(_contested_keys(rng, 300, string_keys))
        if trial % 2:  # a blob may also hold a heavy fp in its lobby
            fp = a.heavy_fp[a.heavy_c > 0][:3]
            b1, _ = a._pair(fp)
            a.lobby_fp[b1], a.lobby_c[b1] = fp, 2
        ref = _RefCuckoo(a)
        ref.merge(b)
        a.merge(b)
        ref.assert_equals(a)


def test_cuckoo_heavy_cells_sit_in_their_bucket_pair():
    """After contested adds and merges, every live heavy fingerprint
    sits in one of its two candidate buckets, where estimate looks."""
    rng = np.random.default_rng(5)
    for trial in range(40):
        a = _fuzz_sketch(rng)
        p = a.params
        b = CuckooTopK(p.k, p.width, p.depth, p.decay, p.seed, max_kicks=a.max_kicks,
                       rng=np.random.default_rng(trial))
        for sk in (a, b):
            sk.add_batch(_contested_keys(rng, 500, trial % 2 == 1))
        for sk in (b, a.merge(b)):
            bucket, _ = np.nonzero(sk.heavy_c)
            b1, b2 = sk._pair(sk.heavy_fp[sk.heavy_c > 0])
            assert ((bucket == b1) | (bucket == b2)).all(), trial


def test_merge_tree_engages_past_fan_in(spark):
    """Caller-supplied merge_groups must control the tree fan-in: with
    fan_in=2 over 8 partitions the merge levels must run (and results
    stay exact) — guards the fan_in-clobbered-by-salt-rebinding bug."""
    from pyspark.sql import functions as F

    from heavykeeper_rs_spark.operators.agg import hll_build
    from heavykeeper_rs_spark.operators.topk import topk, topk_tokens

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").repartition(8)
    got = {
        (r["item"], r["count"])
        for r in topk(
            ev, "event_type", k=5, width=1024, depth=4,
            tie_break_key=True, merge_groups=2,
        ).collect()
    }
    want = {
        (r[0], r[1])
        for r in ev.groupBy("event_type").count()
        .orderBy(F.desc("count"), "event_type").limit(5).collect()
    }
    assert got == want
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(8)
    t = topk_tokens(docs, "text", k=5, width=65536, tie_break_key=True, merge_groups=2)
    assert t.count() == 5
    est = hll_build(ev, "user_id", merge_groups=2).estimate()
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.05


def test_deserialize_any_sniffs_magic():
    import numpy as np
    import pytest

    from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
    from heavykeeper_rs_spark.operators import combine
    from heavykeeper_rs_spark.sketches.bloom import Bloom
    from heavykeeper_rs_spark.sketches.cms import CountMin
    from heavykeeper_rs_spark.sketches.hll import HLL
    from heavykeeper_rs_spark.sketches.kll import KLL
    from heavykeeper_rs_spark.sketches.tdigest import TDigest
    from heavykeeper_rs_spark.variants import (
        BucketedTopK,
        CuckooTopK,
        deserialize_any,
    )

    keys = np.asarray([1, 1, 2, 3, 3, 3], dtype=np.int64)
    canon = HeavyKeeper(HKParams(k=2, width=64, depth=2, decay=0.9, seed=7))
    canon.add_batch(keys)
    buck = BucketedTopK(2, 64, 2, seed=7)
    buck.add_batch(keys)
    cuck = CuckooTopK(2, 64, 2, seed=7)
    cuck.add_batch(keys)
    for sk in (canon, buck, cuck):
        back = deserialize_any(sk.serialize())
        assert type(back) is type(sk)
        assert back.list() == sk.list()
    # the rest of the family: the round trip re-serializes byte-identical
    words = np.asarray(["a", "b", "b", "c"], dtype=object)
    nums = np.arange(100, dtype=np.float64)
    family = [
        (HLL(8, 7), words),
        (CountMin(64, 3, 7), words),
        (Bloom(1024, 3, 7), words),
        (KLL(8, 7), nums),
        (TDigest(50.0), nums),
    ]
    for sk, vals in family:
        sk.add_batch(vals)
        blob = sk.serialize()
        back = deserialize_any(blob)
        assert type(back) is type(sk)
        assert back.serialize() == blob
    with pytest.raises(ValueError, match="unknown sketch blob magic"):
        deserialize_any(b"NOPE" + b"\x00" * 16)
    with pytest.raises(ValueError, match="mixed kinds"):
        combine.merge([canon.serialize(), buck.serialize()])


def test_distributed_probe_all_variants(spark):
    """estimate()/contains_top_k() work for every layout — the
    reference exposes count/contains on all three
    (src/bucketed.rs:260-269, src/cuckoo.rs:280-289)."""
    from pyspark.sql import Row

    from heavykeeper_rs_spark.operators.topk import (
        contains_top_k,
        estimate,
        topk_sketch,
    )

    rows = [Row(k=f"key{i % 5}") for i in range(100)]
    df = spark.createDataFrame(rows)
    truth = {f"key{i}": 20 for i in range(5)}
    for variant in ("topk", "bucketed", "cuckoo"):
        sk = topk_sketch(df, "k", k=10, width=256, depth=4, variant=variant)
        got = {
            r["k"]: r["est_count"]
            for r in estimate(df.select("k").distinct(), "k", sk).collect()
        }
        assert got == truth, variant
        assert contains_top_k(df, "k", sk).count() == 100, variant


def test_variant_hashed_lane_identity():
    """add_batch_hashed must produce the BIT-IDENTICAL sketch to
    add_batch for the same keys (round 4: the zero-object lane now
    feeds the variant layouts too). Both lanes collapse the same hash
    sequence, so fp order, weights and rng consumption all coincide."""
    from heavykeeper_rs_spark.kernel import hash_items
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    rng = np.random.default_rng(17)
    universe = [f"key-{i}".encode() for i in range(500)]
    draws = rng.zipf(1.4, 20_000)
    keys = np.asarray(
        [universe[min(int(d) - 1, 499)] for d in draws], dtype=object
    )
    for cls in (BucketedTopK, CuckooTopK):
        a = cls(20, 256, 4, 0.9, seed=5)
        b = cls(20, 256, 4, 0.9, seed=5)
        for i in range(0, len(keys), 4096):
            chunk = keys[i : i + 4096]
            a.add_batch(chunk)
            h = hash_items(chunk, b.params.seed)
            b.add_batch_hashed(h, np.ones(len(chunk)), lambda sel, c=chunk: c[sel])
        assert a.list() == b.list(), cls.__name__
        assert a.serialize() == b.serialize(), cls.__name__


def test_variant_hashed_lane_counts_each_hash_once_without_weights():
    """``weights=None`` counts each hash once on every layout, as the
    token feed relies on (the variants used to raise on it)."""
    from heavykeeper_rs_spark.kernel import hash_items

    keys = obj(*["a"] * 5 + ["b"] * 3 + ["c"])
    for cls in (BucketedTopK, CuckooTopK):
        a = cls(4, 64, 2, seed=3)
        a.add_batch(keys)
        b = cls(4, 64, 2, seed=3)
        b.add_batch_hashed(hash_items(keys, 3), None, lambda sel: keys[sel])
        assert b.list() == a.list() == [(b"a", 5), (b"b", 3), (b"c", 1)], cls.__name__


def _reencoded(sk, **state):
    from heavykeeper_rs_spark.serde import dumps, loads

    blob = sk.serialize()
    d = loads(blob[4:])
    d.update(state)
    return blob[:4] + dumps(d)


@pytest.mark.parametrize(
    "make,state",
    [
        (lambda: BucketedTopK(4, 64, 2),
         dict(fps=np.zeros((3, 3), np.uint64), counts=np.zeros((3, 3), np.uint64))),
        (lambda: BucketedTopK(4, 64, 2), dict(counts=np.zeros((64, 2), np.int64))),
        (lambda: BucketedTopK(4, 64, 2), dict(fps=None)),
        (lambda: CuckooTopK(4, 64, 2), dict(lobby_c=np.zeros(3, np.uint64))),
        (lambda: CuckooTopK(4, 64, 2), dict(heavy_fp=np.zeros((64, 3), np.uint64))),
        (lambda: CuckooTopK(4, 64, 2), dict(max_kicks=0)),
        (lambda: BucketedTopK(4, 64, 2),
         dict(params=dict(k=4, width=64, depth=2, decay=0.9, seed=12345, rng=5))),
        (lambda: CuckooTopK(4, 64, 2),
         dict(params=dict(k=4, width=64, depth=2, decay=0.9, seed=12345, extra=1))),
        (lambda: CuckooTopK(4, 64, 2), dict(params=dict(k=4, width=64, depth=2, decay=0.9))),
    ],
    ids=[
        "bucketed-3x3", "bucketed-int64", "bucketed-missing",
        "cuckoo-3-cell-lobby", "cuckoo-heavy-shape", "cuckoo-max-kicks",
        "bucketed-params-rng", "cuckoo-params-unknown-key", "cuckoo-params-no-seed",
    ],
)
def test_hostile_state_refused_at_deserialize(make, state):
    """The native add loop writes the cells unchecked, so a blob whose
    state arrays disagree with its params must fail at ``deserialize``,
    before any add can run on it."""
    from heavykeeper_rs_spark.variants import deserialize_any

    sk = make()
    sk.add_batch(obj("x", "y", "x"))
    with pytest.raises(ValueError):
        deserialize_any(_reencoded(sk, **state))


def test_variant_bucket_count_reads_int_keys_on_the_int_lane():
    """``estimate(use_heap=False)`` (the merge fallback) hashes integer
    keys on the same lane the add path used; it used to hash them as
    strings and read 0 for every int-keyed sketch."""
    keys = np.asarray([5, 5, 5, 7], dtype=np.int64)
    for cls in (BucketedTopK, CuckooTopK):
        sk = cls(4, 64, 2)
        sk.add_batch(keys)
        assert sk.estimate(np.asarray([5, 7]), use_heap=False).tolist() == [3, 1]


_LAYOUTS = ["hks1-v1", "hks1-v2", "hkb1", "hkc1"]


def _layout_sketch(layout):
    """A small sketch of ``layout`` tracking three keys, k=4: HKS1 at a
    width that makes its blob dense (v1) or sparse (v2), or a variant."""
    make = {
        "hks1-v1": lambda: HeavyKeeper(HKParams(k=4, width=4, depth=2, seed=7)),
        "hks1-v2": lambda: HeavyKeeper(HKParams(k=4, width=1024, depth=2, seed=7)),
        "hkb1": lambda: BucketedTopK(4, 64, 2, seed=7),
        "hkc1": lambda: CuckooTopK(4, 64, 2, seed=7),
    }[layout]
    sk = make()
    sk.add_batch(obj("x", "y", "x", "z", "x", "y"))
    if layout.startswith("hks1"):
        assert sk.serialize()[4] == int(layout[-1])
    return sk


_MISSING = object()


def _with_cand(layout, cand):
    """``layout``'s blob with its candidate section replaced by ``cand``
    (``_MISSING``: no section)."""
    from heavykeeper_rs_spark.serde import dumps, loads

    sk = _layout_sketch(layout)
    blob = sk.serialize()
    if layout.startswith("hks1"):
        own = [(k, int(c), int(sk.pq.seqs[k])) for k, c in sk.pq.counts.items()]
        head = blob[: len(blob) - len(dumps(own))]
        return head if cand is _MISSING else head + dumps(cand)
    d = loads(blob[4:])
    del d["cand"]
    if cand is not _MISSING:
        d["cand"] = cand
    return blob[:4] + dumps(d)


def _assert_refused(layout, bad):
    """``bad`` raises ValueError wherever a blob is decoded or merged,
    also as the second blob of a merge."""
    from heavykeeper_rs_spark.operators import combine

    good = _layout_sketch(layout).serialize()
    with pytest.raises(ValueError):
        deserialize_any(bad)
    with pytest.raises(ValueError):
        combine.merge([good, bad])
    if layout.startswith("hks1"):
        with pytest.raises(ValueError):
            merge_blobs([good, bad])


_BAD_CAND = {
    "missing": _MISSING,
    "int": 5,
    "negative-count": [(b"x", -3, 0)],
    "float-count": [(b"x", 2.5, 0)],
    "bool-count": [(b"x", True, 0)],
    "str-count": [(b"x", "a", 1)],
    "str-key": [("x", 3, 0)],
    "pair": [(b"x", 3)],
    "float-seq": [(b"x", 3, 0.5)],
    "duplicate-key": [(b"x", 3, 0), (b"x", 2, 1)],
    "over-k": [(bytes([i]), 1, i) for i in range(5)],
}


@pytest.mark.parametrize("case", sorted(_BAD_CAND))
@pytest.mark.parametrize("layout", _LAYOUTS)
def test_hostile_candidates_refused(layout, case):
    """Every layout decodes its candidate section through one checked
    decoder: at most k (bytes|int key, int count >= 0, int seq) triples
    with distinct keys, anything else a ValueError, never a queue entry
    or a merge."""
    _assert_refused(layout, _with_cand(layout, _BAD_CAND[case]))


def test_good_candidate_section_round_trips():
    """The checked decoder keeps what serialize writes, in sequence
    order: an int key, a count of 0 and out-of-order seqs."""
    blob = _with_cand("hkb1", [(7, 0, 5), (b"x", 3, 2)])
    assert deserialize_any(blob).pq.counts == {b"x": 3, 7: 0}
    assert list(deserialize_any(blob).pq.counts) == [b"x", 7]


_BAD_PARAMS = {
    "k-bool": dict(k=True),
    "width-bool": dict(width=True),
    "depth-bool": dict(depth=True),
    "seed-str": dict(seed="x"),
    "seed-float": dict(seed=1.5),
    "seed-bool": dict(seed=True),
    "seed-negative": dict(seed=-1),
    "seed-2**63": dict(seed=1 << 63),
    "decay-str": dict(decay="0.5"),
}


@pytest.mark.parametrize(
    "layout,case",
    [(v, c) for v in ("hkb1", "hkc1") for c in sorted(_BAD_PARAMS)]
    # the HKS1 header packs ints: only a negative seed is expressible
    + [("hks1-v1", "seed-negative"), ("hks1-v2", "seed-negative")],
)
def test_hostile_params_refused(layout, case):
    """``HKParams`` refuses bools for k/width/depth, a decay that is not
    a number, and any seed that is not an int in [0, 2**63), with a
    BuilderError (a ValueError), at construction and in every layout's
    blob."""
    import struct

    from heavykeeper_rs_spark.serde import dumps, loads

    bad_field = _BAD_PARAMS[case]
    with pytest.raises(BuilderError):
        HKParams(**{**dict(k=4, width=64, depth=2), **bad_field})
    blob = _layout_sketch(layout).serialize()
    if layout.startswith("hks1"):
        head = struct.Struct("<4sBqqqdq")
        fields = list(head.unpack_from(blob))
        fields[-1] = bad_field["seed"]
        bad = head.pack(*fields) + blob[head.size :]
    else:
        d = loads(blob[4:])
        d["params"] = {**d["params"], **bad_field}
        bad = blob[:4] + dumps(d)
    _assert_refused(layout, bad)


_MAKERS = {
    "heavykeeper": lambda: HeavyKeeper(HKParams(k=4, width=64, depth=2, seed=7)),
    "bucketed": lambda: BucketedTopK(4, 64, 2, seed=7),
    "cuckoo": lambda: CuckooTopK(4, 64, 2, seed=7),
}


@pytest.mark.parametrize("right", sorted(_MAKERS))
@pytest.mark.parametrize("left", sorted(_MAKERS))
def test_merge_refuses_another_layout(left, right):
    """Two layouts with equal params never merge: their cells mean
    different things (HeavyKeeper's (depth, width) rows against a
    variant's (width, depth) buckets). Same-layout pairs merge."""
    a, b = _MAKERS[left](), _MAKERS[right]()
    for sk in (a, b):
        sk.add_batch(obj("x", "y", "x", "z", "x", "y"))
    if left != right:
        with pytest.raises(SketchCompatError):
            a.merge(b)
        assert a.list() == [(b"x", 3), (b"y", 2), (b"z", 1)]
    else:
        assert a.merge(b) is a
        assert a.list() == [(b"x", 6), (b"y", 4), (b"z", 2)]


@pytest.mark.parametrize("layout", sorted(_MAKERS))
def test_add_batch_return_evicted_and_empty_batch(layout):
    """Every layout's ``add_batch(..., return_evicted=True)`` returns
    the keys pushed out of the queue by this batch, in eviction order,
    and an empty batch leaves the cells, the queue and the RNG stream
    untouched."""
    sk = _MAKERS[layout]()
    assert sk.add_batch(obj("a", "a", "b", "c", "d"), return_evicted=True) == []
    assert sk.add_batch(obj(*["e"] * 9 + ["f"] * 8), return_evicted=True) == [b"b", b"c"]
    assert sorted(sk.pq.counts) == [b"a", b"d", b"e", b"f"]
    rng = np.random.default_rng(3)
    for _ in range(20):
        keys = np.minimum(rng.zipf(1.3, int(rng.integers(1, 300))), 60)
        before = set(sk.pq.counts)
        evicted = sk.add_batch(keys, return_evicted=True)
        assert len(set(evicted)) == len(evicted)
        assert set(evicted) == before - set(sk.pq.counts)
    blob, state = sk.serialize(), sk.rng.bit_generator.state
    assert sk.add_batch(np.asarray([], dtype=np.int64)) is None
    assert sk.add_batch(np.asarray([], dtype=object), return_evicted=True) == []
    assert sk.serialize() == blob
    assert sk.rng.bit_generator.state == state
