"""Kernel edge cases mirroring the reference's boundary tests:
decay=1.0 full-range scaling (src/heavykeeper.rs:1488-1522), decay=0,
u64-range thresholds (src/heavykeeper.rs:1458-1486), non-power-of-two
widths (the % path of src/hash_composition.rs:39-43)."""

import numpy as np
import pytest

from heavykeeper_rs_spark.kernel import HeavyKeeper, compose_indices, hash_items
from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK


def obj(*xs):
    return np.asarray(
        [x.encode() if isinstance(x, str) else x for x in xs], dtype=object
    )


def test_decay_one_always_decrements():
    # decay=1.0: every trial decrements -> a heavier challenger always
    # overwrites (deterministic takeover, like the forced-decay tests)
    sk = HeavyKeeper.with_seed(5, 1, 1, 1.0, 42)
    sk.add_batch(obj("A"), np.array([100]))
    sk.add_batch(obj("B"), np.array([300]))
    # B kills A's 100 in 100 trials, seizes with 300-100+1 = 201
    assert sk.estimate(obj("B"), use_heap=False)[0] == 201
    assert sk.estimate(obj("A"), use_heap=False)[0] == 0


def test_decay_zero_never_decrements():
    sk = HeavyKeeper.with_seed(5, 1, 1, 0.0, 42)
    sk.add_batch(obj("A"), np.array([3]))
    sk.add_batch(obj("B"), np.array([10**6]))
    assert sk.estimate(obj("A"), use_heap=False)[0] == 3
    assert sk.estimate(obj("B"), use_heap=False)[0] == 0


@pytest.mark.parametrize("cls", [HeavyKeeper.with_seed, BucketedTopK, CuckooTopK])
def test_non_power_of_two_width(cls):
    if cls is HeavyKeeper.with_seed:
        sk = HeavyKeeper.with_seed(10, 1000, 4, 0.9, 7)
    else:
        sk = cls(10, 1000, 4, 0.9, 7)
    sk.add_batch(obj(*[f"k{i}" for i in range(50) for _ in range(i + 1)]))
    est = sk.estimate(obj(*[f"k{i}" for i in range(50)]))
    want = np.arange(1, 51)
    # at width=1000 a couple of keys share one row's cell; duels may
    # shave a count or two — that's in-bound sketch error, not a bug
    assert (np.abs(est - want) <= np.maximum(4, want // 5)).all()
    assert (est == want).mean() >= 0.9


def test_index_range_mod_path():
    h = hash_items(obj(*[f"x{i}" for i in range(1000)]), 1)
    idx = compose_indices(h, 4, 1000)
    assert idx.max() < 1000 and idx.min() >= 0
    # distribution sanity: all rows hit a wide range of buckets
    for d in range(4):
        assert len(np.unique(idx[d])) > 500


def test_huge_counts_no_overflow_surprise():
    sk = HeavyKeeper.with_seed(5, 64, 2, 0.9, 1)
    sk.add_batch(obj("big"), np.array([2**40]))
    sk.add_batch(obj("big"), np.array([2**40]))
    assert sk.estimate(obj("big"))[0] == 2**41
    blob = sk.serialize()
    assert HeavyKeeper.deserialize(blob).estimate(obj("big"))[0] == 2**41


def test_empty_and_null_batches():
    sk = HeavyKeeper.new(5, 64, 2)
    sk.add_batch(np.asarray([], dtype=object))
    assert sk.list() == []
    sk.add_batch(obj("x"))
    assert dict(sk.list()) == {b"x": 1}


def test_min_shape_sketch():
    # k=1, width=1, depth=1 degenerate shapes (FIXTURES.md)
    sk = HeavyKeeper.new(1, 1, 1)
    sk._force_decay = False
    sk.add_batch(obj("a", "a", "b"))
    assert sk.contains_top_k("a")
    assert len(sk.pq) == 1


class TestEvictionReporting:
    """O6 add_with_evicted parity (src/heavykeeper.rs:281-354, tests at
    src/heavykeeper.rs:1524-1562): items pushed out of the top-K queue
    are reported, in eviction order."""

    def test_eviction_stream(self):
        import numpy as np
        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams

        sk = HeavyKeeper(HKParams(k=2, width=1024, depth=4))
        ev1 = sk.add_batch(np.asarray([b"a"] * 5 + [b"b"] * 3, dtype=object),
                           return_evicted=True)
        assert ev1 == []  # queue not full -> no eviction
        # c (10) beats the min (b at 3): b must be reported evicted
        ev2 = sk.add_batch(np.asarray([b"c"] * 10, dtype=object),
                           return_evicted=True)
        assert ev2 == [b"b"]
        items = [it for it, _ in sk.list()]
        assert items == [b"c", b"a"]

    def test_no_eviction_when_not_beating_min(self):
        import numpy as np
        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams

        sk = HeavyKeeper(HKParams(k=2, width=1024, depth=4))
        sk.add_batch(np.asarray([b"a"] * 50 + [b"b"] * 40, dtype=object))
        ev = sk.add_batch(np.asarray([b"z"], dtype=object), return_evicted=True)
        assert ev == []  # strictly-greater rule: z(1) <= min(40)

    def test_default_path_returns_none(self):
        import numpy as np
        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams

        sk = HeavyKeeper(HKParams(k=2, width=64, depth=2))
        assert sk.add_batch(np.asarray([b"x"], dtype=object)) is None


class TestPluggableHasher:
    """O3 with_hasher (src/heavykeeper.rs:123-131)."""

    def test_custom_hasher_used_and_deterministic(self):
        import numpy as np
        from heavykeeper_rs_spark.kernel import HeavyKeeper

        calls = []

        def fnv(items, seed):
            out = np.empty(len(items), dtype=np.uint64)
            for i, it in enumerate(items):
                h = np.uint64(1469598103934665603) ^ np.uint64(seed)
                for byte in (it if isinstance(it, bytes) else str(it).encode()):
                    with np.errstate(over="ignore"):
                        h = (h ^ np.uint64(byte)) * np.uint64(1099511628211)
                out[i] = h
            calls.append(len(items))
            return out

        sk = HeavyKeeper.with_hasher(3, 256, 2, 0.9, 7, fnv)
        data = np.asarray([b"x"] * 5 + [b"y"] * 3 + [b"z"], dtype=object)
        sk.add_batch(data)
        assert calls, "custom hasher was not invoked"
        assert [it for it, _ in sk.list()] == [b"x", b"y", b"z"]
        assert sk.estimate(np.asarray([b"x"], dtype=object))[0] == 5

    def test_custom_hasher_blocks_serialize_and_mixed_merge(self):
        import numpy as np
        import pytest
        from heavykeeper_rs_spark.errors import SketchCompatError
        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams

        def h1(items, seed):
            import pandas as pd
            return pd.util.hash_array(np.asarray(items, dtype=object))

        a = HeavyKeeper.with_hasher(2, 64, 2, 0.9, 1, h1)
        a.add_batch(np.asarray([b"k"], dtype=object))
        with pytest.raises(ValueError, match="custom hasher"):
            a.serialize()
        b = HeavyKeeper(HKParams(k=2, width=64, depth=2, decay=0.9, seed=1))
        with pytest.raises(SketchCompatError):
            a.merge(b)


class TestDebugDump:
    """O15 debug() parity (src/heavykeeper.rs:460-496)."""

    def test_buckets_sorted_and_queue_present(self):
        import numpy as np
        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams

        sk = HeavyKeeper(HKParams(k=2, width=64, depth=2))
        sk.add_batch(np.asarray([b"a"] * 9 + [b"b"] * 4 + [b"c"], dtype=object))
        d = sk.debug()
        counts = [b["count"] for b in d["buckets"]]
        assert counts == sorted(counts, reverse=True)
        assert all(b["count"] > 0 for b in d["buckets"])
        assert d["queue"][0] == {"item": "a", "count": 9}
        assert d["tracked"] == 2 and d["nonzero_cells"] == len(d["buckets"])

    def test_int_keys(self):
        # the u64 lane tracks Python ints: describe()/mem_bytes() cost
        # them at the fixed per-item overhead instead of calling len()
        import numpy as np
        from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams

        sk = HeavyKeeper(HKParams(k=2, width=64, depth=2))
        sk.add_batch(np.asarray([5] * 9 + [7] * 4, dtype=np.int64))
        d = sk.debug()
        assert d["queue"][0] == {"item": 5, "count": 9}
        assert d["tracked"] == 2
        assert d["mem_bytes"] == sk.mem_bytes(item_heap_fn=lambda _k: 0)


def test_heavy_twin_challengers_order_by_weight_not_position():
    """Two challengers on the same empty cell, the lighter one first in
    the batch and both weights above 2^16: the batch adds heaviest
    first, so the heavier key installs and the lighter one loses its
    duel; the other order would let the heavier key's whole mass die
    in a hopeless duel (round-5 self-review finding)."""
    import numpy as np

    from heavykeeper_rs_spark.kernel import (
        HeavyKeeper,
        HKParams,
        compose_indices,
        hash_items,
    )

    params = HKParams(k=4, width=2, depth=1, decay=0.9)
    # find two int keys landing in the same single-row cell
    keys = np.arange(64, dtype=np.int64)
    idx = compose_indices(hash_items(keys, params.seed), 1, 2)[0]
    cell0 = np.flatnonzero(idx == idx[0])
    light, heavy = int(keys[cell0[0]]), int(keys[cell0[1]])
    sk = HeavyKeeper(params)
    # lighter key FIRST in the batch; both weights >= 2^16
    sk.add_batch(
        np.asarray([light, heavy], dtype=np.int64),
        np.asarray([100_000, 200_000], dtype=np.int64),
    )
    est = sk.estimate(np.asarray([heavy, light], dtype=np.int64), use_heap=False)
    assert int(est[0]) == 200_000  # heaviest installed first, kept the cell
    assert int(est[1]) == 0
    assert dict(sk.list()).get(heavy) == 200_000


def test_merge_tree_order_independent_boundary_candidates():
    """Round-5 regression: merging the same partials in different tree
    orders must produce the same top-K — the canonical merge used to
    lose a boundary candidate depending on task completion order
    (stale fallback admission + strictly-greater eviction)."""
    import numpy as np

    from heavykeeper_rs_spark.kernel import HeavyKeeper, HKParams
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    def build_partials(make, deserialize, nparts=8):
        rng = np.random.default_rng(0)
        blobs = []
        for p in range(nparts):
            sk = make(p)
            keys = list(range(40)) + [999]
            ws = [1000 + 10 * k + int(rng.integers(0, 5)) for k in range(40)]
            ws.append(1295 + int(rng.integers(0, 5)))  # boundary key
            order = rng.permutation(len(keys))
            sk.add_batch(
                np.asarray([keys[i] for i in order], dtype=np.int64),
                np.asarray([ws[i] for i in order], dtype=np.int64),
            )
            blobs.append(sk.serialize())
        return blobs

    cases = [
        (
            lambda p: HeavyKeeper(
                HKParams(k=8, width=64, depth=4),
                rng=np.random.default_rng(100 + p),
            ),
            HeavyKeeper.deserialize,
        ),
        (
            lambda p: BucketedTopK(8, 64, 4, 0.9, 12345, rng=np.random.default_rng(100 + p)),
            BucketedTopK.deserialize,
        ),
        (
            lambda p: CuckooTopK(8, 64, 4, 0.9, 12345, rng=np.random.default_rng(100 + p)),
            CuckooTopK.deserialize,
        ),
    ]
    for make, deserialize in cases:
        blobs = build_partials(make, deserialize)
        results = set()
        for perm_seed in range(6):
            prm = np.random.default_rng(perm_seed).permutation(len(blobs))
            acc = deserialize(blobs[prm[0]])
            for i in prm[1:]:
                acc.merge(deserialize(blobs[i]))
            results.add(tuple(sorted(acc.list())))
        assert len(results) == 1, f"{type(acc).__name__}: {len(results)} outcomes"
