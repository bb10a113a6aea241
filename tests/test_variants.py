"""BucketedTopK / CuckooTopK tests mirroring the reference variant
suites (src/bucketed.rs:600-1177, src/cuckoo.rs:883-1449) plus the
shared accuracy floors of tests/accuracy_compare.rs for all variants."""

import collections

import numpy as np
import pytest

from heavykeeper_rs_spark.errors import SketchCompatError
from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK


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

    def test_merge_pq_sums(self):
        # src/bucketed.rs:973-1000
        a = BucketedTopK(5, 256, 4)
        b = BucketedTopK(5, 256, 4)
        a.add_batch(obj(*(["x"] * 7 + ["y"] * 2)))
        b.add_batch(obj(*(["x"] * 3 + ["z"] * 4)))
        a.merge(b)
        d = dict(a.list())
        assert d[b"x"] == 10 and d[b"y"] == 2 and d[b"z"] == 4

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


def test_pair_one_matches_vectorized_pair():
    """_relocate's scalar bucket_pair must stay bit-identical to the
    vectorized _pair — drift would relocate victims into buckets where
    lookups never find them."""
    import numpy as np

    from heavykeeper_rs_spark.variants import CuckooTopK

    rng = np.random.default_rng(7)
    fps = rng.integers(0, 2**63, 2000).astype(np.uint64)
    for width in (4096, 4000, 1):
        sk = CuckooTopK(4, width, 4)
        b1v, b2v = sk._pair(fps)
        for i in range(len(fps)):
            assert (int(b1v[i]), int(b2v[i])) == sk._pair_one(fps[i]), (width, i)


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
    feeds the variant layouts too). Both lanes factorize the same hash
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
    ],
    ids=[
        "bucketed-3x3", "bucketed-int64", "bucketed-missing",
        "cuckoo-3-cell-lobby", "cuckoo-heavy-shape", "cuckoo-max-kicks",
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
