"""Kernel unit tests mirroring the reference's in-file #[cfg(test)] suites
(src/heavykeeper.rs:580-1563, src/priority_queue.rs:278-429). Decay is
forced on/off via the `_force_decay` hook — the analog of the reference
tests overwriting the decay-threshold table."""

import numpy as np
import pytest

from heavykeeper_rs_spark.errors import (
    InvalidDecay,
    InvalidDepth,
    InvalidK,
    InvalidWidth,
    SketchCompatError,
)
from heavykeeper_rs_spark.kernel import (
    HeavyKeeper,
    HKParams,
    TopKQueue,
    _key_array,
    compose_indices,
    hash_items,
    merge_blobs,
)


def keys(*xs):
    return np.asarray([x.encode() if isinstance(x, str) else x for x in xs], dtype=object)


# ---------------------------------------------------------------- queue
class TestQueue:
    def test_insert_and_order(self):
        q = TopKQueue(3)
        q.upsert(b"a", 5)
        q.upsert(b"b", 9)
        q.upsert(b"c", 5)
        # ties by insertion sequence asc (src/priority_queue.rs:204-207)
        assert q.items_sorted() == [(b"b", 9), (b"a", 5), (b"c", 5)]

    def test_capacity_eviction_strictly_greater(self):
        q = TopKQueue(2)
        q.upsert(b"a", 5)
        q.upsert(b"b", 9)
        assert q.upsert(b"c", 5) is None  # equal min -> rejected
        assert b"c" not in q.counts
        assert q.upsert(b"c", 6) == b"a"  # strictly greater evicts min
        assert q.items_sorted() == [(b"b", 9), (b"c", 6)]

    def test_update_never_decreases(self):
        q = TopKQueue(2)
        q.upsert(b"a", 5)
        q.update_if_present(b"a", 3)
        assert q.counts[b"a"] == 5
        q.update_if_present(b"a", 7)
        assert q.counts[b"a"] == 7

    def test_min_count(self):
        q = TopKQueue(2)
        assert q.min_count() == 0
        q.upsert(b"a", 5)
        assert q.min_count() == 0  # not full yet
        q.upsert(b"b", 9)
        assert q.min_count() == 5


# ---------------------------------------------------------------- params
class TestParams:
    def test_builder_validation(self):
        with pytest.raises(InvalidK):
            HKParams(k=0, width=8, depth=2)
        with pytest.raises(InvalidWidth):
            HKParams(k=1, width=0, depth=2)
        with pytest.raises(InvalidDepth):
            HKParams(k=1, width=8, depth=0)
        with pytest.raises(InvalidDecay):
            HKParams(k=1, width=8, depth=2, decay=1.5)
        with pytest.raises(InvalidDecay):
            HKParams(k=1, width=8, depth=2, decay=float("nan"))

    def test_merge_compat(self):
        a = HeavyKeeper.new(10, 64, 4)
        b = HeavyKeeper.new(10, 128, 4)
        with pytest.raises(SketchCompatError):
            a.merge(b)
        c = HeavyKeeper.with_seed(10, 64, 4, 0.9, seed=99)
        with pytest.raises(SketchCompatError):
            a.merge(c)


# ---------------------------------------------------------------- hashing
class TestHashing:
    def test_deterministic_and_seeded(self):
        a = keys("x", "y", "emoji☃")
        h1 = hash_items(a, 12345)
        h2 = hash_items(a, 12345)
        h3 = hash_items(a, 54321)
        assert (h1 == h2).all()
        assert (h1 != h3).any()
        assert h1.dtype == np.uint64

    def test_bytes_vs_str_disjoint_but_stable(self):
        assert hash_items(keys("abc"), 1)[0] == hash_items(keys("abc"), 1)[0]


# ---------------------------------------------------------------- sketch
class TestSketch:
    def test_exact_when_uncontended(self):
        # src/heavykeeper.rs:653-687: with ample width, counts are exact
        sk = HeavyKeeper.new(10, 1024, 4)
        items = keys(*([f"k{i}" for i in range(20) for _ in range(i + 1)]))
        sk.add_batch(items)
        est = sk.estimate(keys(*[f"k{i}" for i in range(20)]))
        assert list(est) == [i + 1 for i in range(20)]
        top = sk.list()
        assert top[0] == (b"k19", 20)
        assert len(top) == 10
        assert [c for _, c in top] == list(range(20, 10, -1))

    def test_weighted_add(self):
        sk = HeavyKeeper.new(5, 256, 4)
        sk.add_batch(keys("a", "b"), np.array([100, 7]))
        sk.add_batch(keys("a"), np.array([1]))
        assert sk.estimate(keys("a"))[0] == 101
        assert sk.estimate(keys("b"))[0] == 7
        assert sk.estimate(keys("zzz"))[0] == 0

    def test_zero_increment_noop(self):
        sk = HeavyKeeper.new(5, 64, 2)
        sk.add_batch(keys("a"), np.array([0]))
        assert sk.estimate(keys("a"))[0] == 0
        assert len(sk.pq) == 0

    def test_contains_and_topk_membership(self):
        sk = HeavyKeeper.new(2, 256, 4)
        sk.add_batch(keys("a", "a", "b"))
        assert sk.contains("a")
        assert sk.contains_top_k("a")
        assert not sk.contains("nope")
        assert not sk.contains_top_k("nope")

    def test_overwrite_after_full_decay(self):
        # src/heavykeeper.rs:766-794: add 3000 of B against a cell
        # holding A at 1000 under forced decay -> B count 2001
        sk = HeavyKeeper.new(5, 1, 1)  # width 1: guaranteed collision
        sk._force_decay = False
        sk.add_batch(keys("A"), np.array([1000]))
        sk._force_decay = True
        sk.add_batch(keys("B"), np.array([3000]))
        assert sk.estimate(keys("B"), use_heap=False)[0] == 2001
        assert sk.estimate(keys("A"), use_heap=False)[0] == 0

    def test_forced_no_decay_keeps_occupant(self):
        sk = HeavyKeeper.new(5, 1, 1)
        sk._force_decay = False
        sk.add_batch(keys("A"), np.array([10]))
        sk.add_batch(keys("B"), np.array([1000]))
        assert sk.estimate(keys("A"), use_heap=False)[0] == 10
        assert sk.estimate(keys("B"), use_heap=False)[0] == 0

    def test_failed_eviction_purity(self):
        # a loser keeps count 0 and is not tracked
        # (src/bucketed.rs:1117-1136, src/heavykeeper.rs:341-343)
        sk = HeavyKeeper.new(5, 1, 1)
        sk._force_decay = False
        sk.add_batch(keys("A"), np.array([10]))
        sk.add_batch(keys("B"), np.array([3]))
        assert not sk.contains_top_k("B")
        assert sk.estimate(keys("B"))[0] == 0

    def test_skew_recall(self):
        # src/heavykeeper.rs:901-964: top-10-of-100 skew recall >= 8/10
        rng = np.random.default_rng(7)
        ks, ws = [], []
        for i in range(100):
            ks.append(f"key{i}".encode())
            ws.append(1000 - 9 * i if i < 10 else rng.integers(1, 20))
        order = rng.permutation(
            np.repeat(np.asarray(ks, dtype=object), np.asarray(ws, dtype=np.int64))
        )
        sk = HeavyKeeper.new(10, 64, 4)
        for chunk in np.array_split(order, 7):
            sk.add_batch(chunk)
        got = {item for item, _ in sk.list()}
        want = {f"key{i}".encode() for i in range(10)}
        assert len(got & want) >= 8

    def test_unicode_keys(self):
        # src/heavykeeper.rs:711-746: non-ASCII + emoji
        sk = HeavyKeeper.new(5, 256, 4)
        sk.add_batch(keys("héllo", "héllo", "☃", "日本語", "日本語", "日本語"))
        top = dict(sk.list())
        assert top["日本語".encode()] == 3
        assert top["héllo".encode()] == 2
        assert top["☃".encode()] == 1

    def test_determinism_same_seed(self):
        # src/cuckoo.rs:1039-1057 analog: same seed + same input order
        # -> identical full state
        data = np.random.default_rng(3).integers(0, 500, 20000)
        items = np.asarray([f"u{i}" for i in data], dtype=object)
        a = HeavyKeeper.with_seed(20, 128, 4, 0.9, 42)
        b = HeavyKeeper.with_seed(20, 128, 4, 0.9, 42)
        a.add_batch(items)
        b.add_batch(items)
        assert (a.fps == b.fps).all() and (a.counts == b.counts).all()
        assert a.list() == b.list()


# ---------------------------------------------------------------- merge
class TestMerge:
    def test_merge_sums_disjoint_and_shared(self):
        # src/heavykeeper.rs:1160-1186: merged counts are summed
        a = HeavyKeeper.new(10, 1024, 4)
        b = HeavyKeeper.new(10, 1024, 4)
        a.add_batch(keys("x"), np.array([5]))
        a.add_batch(keys("y"), np.array([2]))
        b.add_batch(keys("x"), np.array([3]))
        b.add_batch(keys("z"), np.array([7]))
        a.merge(b)
        est = a.estimate(keys("x", "y", "z"))
        assert list(est) == [8, 2, 7]
        assert dict(a.list()) == {b"x": 8, b"y": 2, b"z": 7}

    def test_merge_untracked_fallback(self):
        # bucketed-style pre-merge bucket_count fallback
        # (src/bucketed.rs:377-401): other tracks an item self only has
        # in cells -> merged candidate count includes self's cell mass
        a = HeavyKeeper.new(1, 1024, 4)
        b = HeavyKeeper.new(1, 1024, 4)
        a.add_batch(keys("big", "small"), np.array([100, 3]))  # a tracks big only
        b.add_batch(keys("small"), np.array([10]))  # b tracks small
        assert not a.contains_top_k("small")
        a.merge(b)
        assert a.estimate(keys("small"))[0] == 13

    def test_serialize_roundtrip(self):
        sk = HeavyKeeper.new(10, 128, 4)
        sk.add_batch(keys(*[f"k{i % 30}" for i in range(500)]))
        blob = sk.serialize()
        back = HeavyKeeper.deserialize(blob)
        assert back.params == sk.params
        assert (back.fps == sk.fps).all() and (back.counts == sk.counts).all()
        assert back.list() == sk.list()

    def test_merge_order_estimate_bound(self):
        # merge is associative only up to sketch error (SURVEY §2.7):
        # assert top-K set & estimates agree across merge orders for an
        # uncontended workload (where both must be exact)
        parts = []
        for pid in range(4):
            sk = HeavyKeeper.with_seed(10, 2048, 4, 0.9, 42)
            items = np.asarray(
                [f"k{i}" for i in range(30) for _ in range((i + 1) * (pid + 1))],
                dtype=object,
            )
            sk.add_batch(items)
            parts.append(sk.serialize())
        from heavykeeper_rs_spark.kernel import merge_blobs

        m1 = HeavyKeeper.deserialize(merge_blobs(parts))
        m2 = HeavyKeeper.deserialize(merge_blobs(parts[::-1]))
        assert dict(m1.list()) == dict(m2.list())
        truth = {f"k{i}".encode(): (i + 1) * 10 for i in range(30)}
        for item, c in m1.list():
            assert c == truth[item]


class TestStringBufferHash:
    """The canonical str/bytes hash is hash_string_buffers — the object
    lane (probe/PQ-fallback) and the Arrow zero-copy lane (distributed
    builders) MUST produce identical hashes, or fingerprints from the
    two paths would never match."""

    def test_object_and_arrow_lanes_agree(self):
        import pyarrow as pa

        from heavykeeper_rs_spark.kernel import (
            arrow_string_buffers,
            hash_items,
            hash_string_buffers,
        )

        keys = ["hello", "wörld", "", "x" * 300, "flow\x00key", "a", "ab"]
        h_obj = hash_items(np.asarray(keys, dtype=object), 12345)
        off, data = arrow_string_buffers(pa.array(keys))
        assert np.array_equal(h_obj, hash_string_buffers(off, data, 12345))
        # bytes objects hash like their utf-8 str twins
        hb = hash_items(np.asarray([k.encode() for k in keys], dtype=object), 12345)
        assert np.array_equal(h_obj, hb)
        # sliced arrow arrays (non-zero offset) still hash right
        sl = pa.array(keys).slice(2, 4)
        off2, data2 = arrow_string_buffers(sl)
        assert np.array_equal(h_obj[2:6], hash_string_buffers(off2, data2, 12345))
        # seed separation + all distinct
        assert not np.array_equal(h_obj, hash_items(np.asarray(keys, dtype=object), 1))
        assert len(set(h_obj.tolist())) == len(keys)

    def test_known_answers(self):
        """Pinned fingerprints: persisted blobs (checkpoints,
        sketch_store) depend on these exact values."""
        from heavykeeper_rs_spark.kernel import hash_items

        keys = np.asarray(["", "a", "hello", "x" * 300], dtype=object)
        assert hash_items(keys, 12345).tolist() == [
            0x31FAEB299DF56851, 0xCE634A629D895014,
            0x49C3115C8577DE33, 0xB7B95A6326A4EC37,
        ]
        assert hash_items(keys, 7).tolist() == [
            0x89103A54E8D5A9C4, 0x637E3C872AB48A52,
            0x75318C8177C8D921, 0xFA6F513A288557C6,
        ]

    def test_tokenizer_hashes_equal_hash_slices(self):
        """ascii_tokens hashes each token over its lowered bytes exactly
        like hash_slices, so token sketches merge with str-key ones."""
        from heavykeeper_rs_spark.native import ascii_tokens, hash_slices

        # a run split at a doc boundary, and one over max_len dropped
        text = b"Hello, WORLDwide " + b"Z" * 70 + b" x  QuIcK"
        data = np.frombuffer(text, dtype=np.uint8)
        offsets = np.asarray([0, 12, len(text)], dtype=np.int64)
        h, s, l = ascii_tokens(offsets, data, 64, 12345)
        low = np.frombuffer(text.lower(), dtype=np.uint8)
        assert [low[a : a + b].tobytes() for a, b in zip(s, l)] == [
            b"hello", b"world", b"wide", b"x", b"quick",
        ]
        assert np.array_equal(h, hash_slices(s, l, low, 12345))

    def test_prefix_and_length_discrimination(self):
        from heavykeeper_rs_spark.kernel import hash_items

        ks = ["a", "aa", "aaa", "ab", "ba", "a\x00", "\x00a"]
        h = hash_items(np.asarray(ks, dtype=object), 7)
        assert len(set(h.tolist())) == len(ks)

    def test_add_batch_hashed_matches_add_batch(self):
        import pyarrow as pa
        import pyarrow.compute as pc

        from heavykeeper_rs_spark.kernel import (
            arrow_string_buffers,
            hash_string_buffers,
        )

        rng = np.random.default_rng(0)
        zipf = np.minimum(rng.zipf(1.3, 100_000), 20_000)
        skeys = np.asarray([f"key{v}" for v in zipf], dtype=object)
        p = HKParams(k=20, width=4096, depth=4, decay=0.9, seed=7)
        a = HeavyKeeper(p, rng=np.random.default_rng(1))
        a.add_batch(skeys)
        b = HeavyKeeper(p, rng=np.random.default_rng(1))
        col = pa.array(skeys.tolist(), type=pa.string())
        d = pc.dictionary_encode(col)
        idx = d.indices.to_numpy(zero_copy_only=False)
        w = np.bincount(idx, minlength=len(d.dictionary)).astype(np.int64)
        off, data = arrow_string_buffers(d.dictionary)
        h = hash_string_buffers(off, data, 7)
        dic = d.dictionary
        b.add_batch_hashed(
            h, w, lambda sel: np.asarray(dic.take(pa.array(sel)).to_pylist(), dtype=object)
        )
        assert a.list() == b.list()
        assert np.array_equal(a.counts, b.counts) and np.array_equal(a.fps, b.fps)

    def test_add_batch_hashed_refuses_custom_hasher(self):
        import pytest

        from heavykeeper_rs_spark.kernel import HeavyKeeper

        sk = HeavyKeeper.with_hasher(
            2, 64, 2, 0.9, 1,
            hasher=lambda items, seed: np.arange(len(items), dtype=np.uint64),
        )
        with pytest.raises(ValueError, match="custom-hasher"):
            sk.add_batch_hashed(
                np.asarray([1], dtype=np.uint64),
                np.asarray([1.0]),
                lambda s: np.asarray(["x"], dtype=object),
            )


def test_dense_preagg_matches_factorize():
    """One batch and the same keys in eight small batches must agree:
    identical exact counts on an uncontended fixture (where
    order effects cannot matter), identical (unique, weight) multisets
    on weighted and cancelling inputs."""
    rng = np.random.default_rng(42)
    n = 20_000
    keys = rng.integers(0, 500, n, dtype=np.int64)  # a small dense range
    wide = HKParams(k=600, width=8192, depth=4, decay=0.9, seed=7)

    dense = HeavyKeeper(wide)
    dense.add_batch(keys)

    fact = HeavyKeeper(wide)
    for chunk in np.array_split(keys, 8):
        assert chunk.size < 4096
        fact.add_batch(chunk)

    truth = {int(k): int(c) for k, c in zip(*np.unique(keys, return_counts=True))}
    got_dense = {k: c for k, c in dense.list()}
    got_fact = {k: c for k, c in fact.list()}
    assert got_dense == truth
    assert got_fact == truth

    # weighted + zero/cancel weights: nonpositive totals are dropped
    # on both lanes
    wk = np.asarray([1, 1, 2, 3, 3, 4], dtype=np.int64)
    ww = np.asarray([5, -5, 0, 2, 2, 7], dtype=np.int64)
    wk_big = np.tile(wk, 1024)  # more than 4096 rows
    ww_big = np.tile(ww, 1024)
    a = HeavyKeeper(wide)
    a.add_batch(wk_big, ww_big)
    assert dict(a.list()) == {3: 4096, 4: 7168}

    # large / negative domains stay correct
    neg = np.r_[np.full(5000, -3, dtype=np.int64), np.arange(5000, dtype=np.int64)]
    b = HeavyKeeper(wide)
    b.add_batch(neg)
    assert b.estimate(np.asarray([-3], dtype=np.int64))[0] == 5000

    # uint64 batches
    ukeys = keys.astype(np.uint64)
    c = HeavyKeeper(wide)
    c.add_batch(ukeys)
    assert dict(c.list()) == truth

    # the variants share the same preaggregate
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    for cls in (BucketedTopK, CuckooTopK):
        vd = cls(600, 8192, 4, seed=7)
        vd.add_batch(ukeys)
        vd2 = cls(600, 8192, 4, seed=7)
        vd2.add_batch(keys)
        assert dict(vd2.list()) == truth, cls.__name__
        vf = cls(600, 8192, 4, seed=7)
        for chunk in np.array_split(keys, 8):
            vf.add_batch(chunk)
        assert dict(vd.list()) == truth, cls.__name__
        assert dict(vf.list()) == truth, cls.__name__


# -- Python reference of the batch collapse as it was before one native
# pass: a dense bincount over a small non-negative int range of at
# least 4096 rows, a khash factorize otherwise, a reversed
# first-occurrence scatter and two argsorts. preaggregate must equal it
# bit for bit.


def _preaggregate_reference(keys, weights=None, hash_fn=None, raw_ints=True):
    import pandas as pd

    if hash_fn is not None and not (raw_ints and keys.dtype.kind in "iu"):
        keys, hash_fn = hash_fn(keys), None
    n = keys.shape[0]
    wts = None if weights is None else np.asarray(weights, dtype=np.float64)
    if (
        hash_fn is not None
        and n >= 4096
        and int(keys.min()) >= 0
        and int(keys.max()) < min(4 * n, 1 << 22)
    ):
        vals = keys.astype(np.int64, copy=False)
        w = np.bincount(vals, weights=wts).astype(np.int64, copy=False)
        uniq = None
    else:
        vals, uniq = pd.factorize(keys, sort=False)
        w = np.bincount(vals, weights=wts, minlength=uniq.shape[0])
        w = w.astype(np.int64, copy=False)
    ipos = np.int32 if n < 1 << 31 else np.int64
    first = np.empty(w.shape[0], dtype=ipos)
    first[vals[::-1]] = np.arange(n - 1, -1, -1, dtype=ipos)
    keep = np.flatnonzero(w > 0)
    order = keep[np.argsort(first[keep])]
    order = order[np.argsort(-w[order], kind="stable")]
    uniq = order if uniq is None else np.asarray(uniq)[order]
    fp = uniq.astype(np.uint64) if hash_fn is None else hash_fn(uniq)
    return first[order], w[order], fp


def _collapse_cases(rng):
    """``(name, keys, weights, hash_fn, raw_ints)`` batches covering
    every range the reference splits on."""
    h = lambda a: hash_items(a, 7)  # noqa: E731
    n = int(rng.integers(4096, 20_000))
    small = rng.integers(0, 300, n, dtype=np.int64)
    wide = rng.integers(-(1 << 62), 1 << 62, n, dtype=np.int64)
    neg = rng.integers(-50, 50, n, dtype=np.int64)
    big = (np.uint64(1 << 63) + rng.integers(0, 40, n).astype(np.uint64)).astype(np.uint64)
    frac = rng.random(n) * 3 - 0.5
    cancel = np.where(rng.random(n) < 0.5, -1.0, 1.0) * rng.integers(1, 4, n)
    zipf = np.minimum(rng.zipf(1.2, n), 5000).astype(np.int64)
    strs = np.asarray([f"k{v}" for v in zipf[:3000]], dtype=object)
    return [
        ("small-dense", small, None, h, True),
        ("small-dense-short", small[:4000], None, h, True),
        ("wide", wide, None, h, True),
        ("negative", neg, None, h, True),
        ("uint64-high", big, None, h, True),
        ("int32", small.astype(np.int32) - 150, None, h, True),
        ("uint16", small.astype(np.uint16), None, h, True),
        ("fingerprints", hash_items(zipf, 7), None, None, True),
        ("fractional", small, frac, h, True),
        ("cancelling", neg, cancel, h, True),
        ("fp-cancelling", hash_items(neg, 7), cancel, None, True),
        ("objects", strs, None, h, True),
        ("hash-first", small, frac, h, False),
        ("n=0", small[:0], None, h, True),
        ("n=1", small[:1], np.asarray([2.5]), h, True),
        ("all-equal", np.full(n, 9, dtype=np.int64), None, h, True),
        ("all-distinct", rng.permutation(n).astype(np.int64), None, h, True),
        ("all-distinct-fp", hash_items(rng.permutation(n), 7), frac, None, True),
    ]


def test_preaggregate_matches_reference_bit_for_bit():
    """The one native collapse gives the reference's ``pos``, ``w`` and
    ``fp`` on every key range, weight kind and batch size."""
    from heavykeeper_rs_spark.kernel import preaggregate

    rng = np.random.default_rng(1414)
    for trial in range(6):
        for name, ks, wts, h, raw in _collapse_cases(rng):
            got = preaggregate(ks, wts, h, raw_ints=raw)
            ref = _preaggregate_reference(ks, wts, h, raw_ints=raw)
            assert np.array_equal(got[0], ref[0]), (trial, name)
            for g, r in zip(got[1:], ref[1:]):
                assert g.dtype == r.dtype and np.array_equal(g, r), (trial, name)


def test_query_deprecated_alias():
    """O10 parity: query() == contains() with a DeprecationWarning
    (deprecated in the reference since 0.6.9)."""
    import warnings

    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    for sk in (
        HeavyKeeper(HKParams(k=2, width=64, depth=2, decay=0.9, seed=1)),
        BucketedTopK(2, 64, 2, seed=1),
        CuckooTopK(2, 64, 2, seed=1),
    ):
        sk.add_batch(np.asarray(["hot", "hot", "cold"], dtype=object))
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            assert sk.query("hot") is True
            assert sk.query("never-seen") is False
        assert any(issubclass(w.category, DeprecationWarning) for w in rec)


def test_fluent_builder_parity():
    """builder() fluent construction on all three layouts with the
    reference's validation surface."""
    from heavykeeper_rs_spark.errors import InvalidDecay, InvalidK
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    sk = HeavyKeeper.builder().k(5).width(64).depth(2).decay(0.8).seed(3).build()
    assert sk.params.k == 5 and sk.params.decay == 0.8 and sk.params.seed == 3
    ck = CuckooTopK.builder().k(3).width(32).depth(2).max_kicks(4).build()
    assert isinstance(ck, CuckooTopK) and ck.max_kicks == 4
    bk = BucketedTopK.builder().k(3).width(32).depth(2).build()
    assert isinstance(bk, BucketedTopK)
    import pytest

    with pytest.raises(InvalidK):
        HeavyKeeper.builder().width(64).depth(2).build()
    with pytest.raises(InvalidDecay):
        HeavyKeeper.builder().k(2).width(64).depth(2).decay(1.5).build()
    with pytest.raises(ValueError, match="cuckoo"):
        HeavyKeeper.builder().k(2).width(64).depth(2).max_kicks(3).build()
    with pytest.raises(ValueError, match="hasher"):
        BucketedTopK.builder().k(2).width(64).depth(2).hasher(lambda i, s: i).build()


# -- Python reference of the HeavyKeeper merge: the cell union over both
# sides' full (depth, width) arrays, with its own per-row probe that
# hashes the keys at every call. merge_blobs and the merge() chain must
# equal it bit for bit.


def _ref_cell_max(sk, items):
    p = sk.params
    fp = sk._hash(items)
    idxs = compose_indices(fp, p.depth, p.width)
    out = np.zeros(items.shape[0], dtype=np.int64)
    for d in range(p.depth):
        idx = idxs[d]
        m = (sk.fps[d, idx] == fp) & (sk.counts[d, idx] > 0)
        np.maximum(out, np.where(m, sk.counts[d, idx].astype(np.int64), 0), out=out)
    return out


def _reference_merge(acc, other):
    pending = {}
    other_items = list(other.pq.counts.items())
    if other_items:
        cells = _ref_cell_max(acc, _key_array([k for k, _ in other_items]))
        for (item, ocount), cc in zip(other_items, cells):
            sc = acc.pq.counts.get(item)
            pending[item] = int(ocount) + int(sc if sc is not None else cc)
    mine = [k for k in acc.pq.counts if k not in other.pq.counts]
    if mine:
        for item, extra in zip(mine, _ref_cell_max(other, _key_array(mine))):
            pending[item] = acc.pq.counts[item] + int(extra)
    same = (acc.fps == other.fps) & (acc.counts > 0) & (other.counts > 0)
    acc.counts[same] += other.counts[same]
    empty = acc.counts == 0
    acc.fps[empty] = other.fps[empty]
    acc.counts[empty] = other.counts[empty]
    if pending:
        allk = list(pending)
        probe = _ref_cell_max(acc, _key_array(allk))
        best = [max(pending[k], int(c)) for k, c in zip(allk, probe)]
        for i in sorted(range(len(allk)), key=lambda i: -best[i]):
            acc.pq.upsert(allk[i], best[i])
    return acc


class TestSparseMergeFastPath:
    """merge_blobs and the HeavyKeeper.merge chain run the one merge
    body over the other side's live cells; both must equal the dense
    reference on cells, candidates, ``list()`` and serialized bytes,
    over sparse (v2), dense (v1) and mixed blob sets, exact and
    contested regimes."""

    @staticmethod
    def _check(blobs):
        ref = HeavyKeeper.deserialize(blobs[0])
        chain = HeavyKeeper.deserialize(blobs[0])
        for b in blobs[1:]:
            _reference_merge(ref, HeavyKeeper.deserialize(b))
            chain.merge(HeavyKeeper.deserialize(b))
        assert merge_blobs(blobs) == chain.serialize() == ref.serialize()
        for got in (HeavyKeeper.deserialize(merge_blobs(blobs)), chain):
            assert np.array_equal(got.fps, ref.fps)
            assert np.array_equal(got.counts, ref.counts)
            assert got.pq.counts == ref.pq.counts
            assert got.list() == ref.list()

    def test_exact_regime_disjoint_and_shared_keys(self):
        rng = np.random.default_rng(7)
        blobs = []
        for p in range(5):
            sk = HeavyKeeper(HKParams(k=32, width=4096, depth=4))
            keys = rng.integers(0, 500, 3000, dtype=np.int64)
            if p % 2:
                keys = keys + 400  # overlap + disjoint mix
            sk.add_batch(keys)
            blobs.append(sk.serialize())
        assert all(b[4] == 2 for b in blobs)
        self._check(blobs)

    def test_contested_regime_string_keys(self):
        rng = np.random.default_rng(11)
        blobs = []
        for p in range(4):
            # width*depth = 3072 cells vs ~300 keys: collisions (and
            # decay duels) happen while nnz*3 < cells keeps the blobs
            # sparse
            sk = HeavyKeeper(
                HKParams(k=8, width=1024, depth=3, decay=0.9, seed=99),
                rng=np.random.default_rng(p),
            )
            keys = np.asarray(
                [f"k{int(v)}" for v in rng.zipf(1.3, 4000) % 300], dtype=object
            )
            sk.add_batch(keys)
            blobs.append(sk.serialize())
        assert all(b[4] == 2 for b in blobs)
        self._check(blobs)

    @pytest.mark.parametrize("trial", range(24))
    def test_fuzz_against_dense_chain(self, trial):
        """Random sparse, dense or mixed blob sets (int or string keys,
        exact or contested, empty partials included), merged in a
        random order, whichever rows landed in which partial."""
        rng = np.random.default_rng(1000 + trial)
        params = HKParams(
            k=int(rng.integers(2, 40)),
            width=int(rng.choice([64, 256, 1024, 4096])),
            depth=int(rng.integers(1, 5)),
            decay=float(rng.choice([0.9, 0.5])),
            seed=int(rng.integers(0, 1 << 30)),
        )
        cells = params.width * params.depth
        str_keys = bool(rng.integers(2))
        layouts = [("sparse",), ("dense",), ("sparse", "dense")][trial % 3]
        n_blobs = int(rng.integers(2, 9))
        kinds = [layouts[i % len(layouts)] for i in range(n_blobs)]
        blobs = []
        for p, kind in enumerate(kinds):
            sk = HeavyKeeper(params, rng=np.random.default_rng(trial * 100 + p))
            if kind == "dense":  # about 2 keys per cell
                keys = rng.integers(0, 8 * cells, 2 * cells)
            else:  # Zipf over a domain too small to fill a third of the cells
                keys = rng.zipf(1.3, int(rng.integers(0, 3000))) % max(params.width // 8, 1)
            if str_keys:
                keys = np.asarray([f"k{v}" for v in keys], dtype=object)
            if len(keys):
                sk.add_batch(keys)
            blobs.append(sk.serialize())
        assert [b[4] for b in blobs] == [1 if k == "dense" else 2 for k in kinds]
        self._check([blobs[i] for i in rng.permutation(n_blobs)])

    def test_empty_sparse_blob(self):
        a = HeavyKeeper(HKParams(k=4, width=1024, depth=2))
        a.add_batch(np.asarray([1, 2, 3], dtype=np.int64))
        empty = HeavyKeeper(HKParams(k=4, width=1024, depth=2)).serialize()
        self._check([a.serialize(), empty])
        self._check([empty, a.serialize()])

    def test_other_side_probe_reads_only_the_key_cells(self):
        """A live cell holding a tracked key's fingerprint away from the
        key's own cell (the next id the binary search lands on) adds
        nothing to the key's fallback."""
        p = HKParams(k=4, width=64, depth=1)
        key = next(
            f"a{i}" for i in range(100)
            if HeavyKeeper(p)._cells(hash_items(keys(f"a{i}"), p.seed))[0, 0] < 63
        )
        a, forged = HeavyKeeper(p), HeavyKeeper(p)
        a.add_batch(keys(*[key] * 5))
        fp = hash_items(keys(key), p.seed)[0]
        forged.fps[0, 63], forged.counts[0, 63] = fp, 7
        self._check([a.serialize(), forged.serialize()])
        assert HeavyKeeper.deserialize(merge_blobs([a.serialize(), forged.serialize()])).list() == [
            (key.encode(), 5)
        ]

    def test_stale_candidate_count_rises_to_its_merged_cells(self):
        """A candidate whose queue count lags its cells is offered at its
        merged cells, not at the stale count plus the other side's."""
        from heavykeeper_rs_spark.serde import dumps

        p = HKParams(k=4, width=1024, depth=2)
        a = HeavyKeeper(p)
        a.add_batch(keys(*["x"] * 10))
        blob = a.serialize()
        section = dumps([(b"x", 10, 0)])
        assert blob.endswith(section)
        stale = blob[: -len(section)] + dumps([(b"x", 1, 0)])
        self._check([stale, HeavyKeeper(p).serialize()])
        assert HeavyKeeper.deserialize(merge_blobs([stale, HeavyKeeper(p).serialize()])).list() == [
            (b"x", 10)
        ]

    @staticmethod
    def _reorder_cells(blob: bytes, case: str) -> bytes:
        """``blob`` (sparse v2) with its cell triplets rewritten so the
        first cell id appears twice (``duplicated``, last cell dropped)
        or all ids run backwards (``reversed``)."""
        import struct

        off = struct.calcsize("<4sBqqqdq")
        (nnz,) = struct.unpack_from("<q", blob, off)
        off += 8
        if case == "duplicated":
            order = np.r_[0, np.arange(nnz - 1)]
        else:
            order = np.arange(nnz)[::-1]
        parts = [
            np.frombuffer(blob[off + 8 * nnz * j : off + 8 * nnz * (j + 1)], dtype=np.int64)[order]
            for j in range(3)
        ]
        return blob[:off] + b"".join(p.tobytes() for p in parts) + blob[off + 24 * nnz :]

    def _sparse_pair(self):
        p = HKParams(k=16, width=8192, depth=2)
        a, b = HeavyKeeper(p), HeavyKeeper(p)
        a.add_batch(np.arange(0, 200, dtype=np.int64))
        b.add_batch(np.arange(100, 300, dtype=np.int64))
        blobs = [a.serialize(), b.serialize()]
        assert all(x[4] == 2 for x in blobs)
        return blobs

    @pytest.mark.parametrize("case", ["duplicated", "reversed"])
    def test_unordered_cell_ids_raise(self, case):
        """Cell ids must be strictly ascending: the merge body
        binary-searches them, so a blob with a duplicated or reversed
        id list would merge to a different sketch than deserialize +
        merge. The one parser refuses it for both."""
        first, second = self._sparse_pair()
        bad = self._reorder_cells(second, case)
        with pytest.raises(ValueError, match="ascending"):
            HeavyKeeper.deserialize(bad)
        with pytest.raises(ValueError, match="ascending"):
            merge_blobs([first, bad])


def test_same_seed_gives_identical_blobs_and_rng_reassignment_reseeds():
    """The native add loop draws its seed from ``sk.rng`` on each add:
    the same seed gives byte-identical blobs on every layout, and the
    per-partition RNG that ``agg._seeded`` assigns after construction
    still changes a contested sketch."""
    from heavykeeper_rs_spark.operators.agg import _seeded
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    data = np.random.default_rng(5).zipf(1.3, 50_000).astype(np.int64)
    makers = [
        lambda: HeavyKeeper(HKParams(k=10, width=32, depth=2, decay=0.9, seed=7)),
        lambda: BucketedTopK(10, 16, 2, seed=7),
        lambda: CuckooTopK(10, 16, 2, seed=7),
    ]

    def blob(make, pid=None):
        sk = make() if pid is None else _seeded(make(), pid)
        for chunk in np.array_split(data, 4):
            sk.add_batch(chunk)
        return sk.serialize()

    for make in makers:
        assert blob(make) == blob(make)
        assert blob(make, 1) == blob(make, 1)
        assert blob(make, 1) != blob(make, 2)


def _pq_admit_reference(pq, take_keys, est, evicted=None):
    """The admission loop before the k-th-largest cut: every key that
    beats the queue minimum is materialized and offered."""
    from heavykeeper_rs_spark.kernel import _pq_key

    sel = np.flatnonzero(est > pq.min_count())
    if sel.size:
        ks = np.asarray(take_keys(sel), dtype=object)
        counts = est[sel]
        for i in np.lexsort((ks, -counts)):
            victim = pq.upsert(_pq_key(ks[i]), int(counts[i]))
            if victim is not None and evicted is not None:
                evicted.append(victim)
    return evicted


def test_pq_admit_cut_matches_reference_loop(monkeypatch):
    """Offering only the keys that reach the k-th largest estimate
    leaves every layout's queue (counts, insertion sequences, evicted
    stream) and blob exactly as offering every key does."""
    from heavykeeper_rs_spark import kernel
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    cut = kernel._pq_admit
    rng = np.random.default_rng(2024)
    for trial in range(300):
        k = int(rng.integers(1, 61))
        width = int(rng.choice([8, 16, 48, 64, 256]))
        depth = int(rng.integers(1, 5))
        universe = int(rng.integers(5, 400))
        batches = [
            np.minimum(rng.zipf(1.1 + rng.random(), int(rng.integers(1, 1500))), universe)
            for _ in range(int(rng.integers(1, 6)))
        ]
        if trial % 2:
            batches = [np.asarray([f"s{v}" for v in b], dtype=object) for b in batches]
        layout = trial % 3
        runs = []
        for admit in (_pq_admit_reference, cut):
            monkeypatch.setattr(kernel, "_pq_admit", admit)
            if layout == 0:
                sk = HeavyKeeper(HKParams(k=k, width=width, depth=depth, seed=trial))
            else:
                cls = BucketedTopK if layout == 1 else CuckooTopK
                sk = cls(k, width, depth, seed=trial)
            evicted = [sk.add_batch(b, return_evicted=True) for b in batches]
            runs.append((dict(sk.pq.counts), dict(sk.pq.seqs), evicted, sk.serialize()))
        assert runs[0] == runs[1], (trial, k, width, depth, layout)


@pytest.mark.parametrize("layout", ["heavykeeper", "bucketed", "cuckoo"])
def test_contains_finds_int_keys(layout):
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

    sk = {
        "heavykeeper": lambda: HeavyKeeper(HKParams(k=1, width=64, depth=2)),
        "bucketed": lambda: BucketedTopK(1, 64, 2),
        "cuckoo": lambda: CuckooTopK(1, 64, 2),
    }[layout]()
    sk.add_batch(np.array([5, 5, 7]))
    assert sk.contains(5) and sk.contains(7)
    assert not sk.contains(9)


@pytest.mark.parametrize("layout", ["heavykeeper", "bucketed", "cuckoo"])
def test_merge_mixed_negative_and_high_uint64_keys(layout):
    """Integer candidates at or above 2**63 (fed as uint64) merge with
    negative ones (fed as int64) through ``merge``, ``merge_blobs`` and
    ``combine.merge`` on every layout: the candidate probe hashes them
    as ``uint64`` of ``k mod 2**64``, the bits both lanes hashed."""
    from heavykeeper_rs_spark.operators.combine import merge
    from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK, deserialize_any

    make = {
        "heavykeeper": lambda: HeavyKeeper(HKParams(k=8, width=256, depth=2)),
        "bucketed": lambda: BucketedTopK(8, 256, 2),
        "cuckoo": lambda: CuckooTopK(8, 256, 2),
    }[layout]
    hi = 2**63 + 5
    a, b = make(), make()
    a.add_batch(np.asarray([-3] * 5 + [-7] * 2, dtype=np.int64))
    a.add_batch(np.asarray([hi] * 4, dtype=np.uint64))
    b.add_batch(np.asarray([hi] * 3 + [2**64 - 2] * 2, dtype=np.uint64))
    b.add_batch(np.asarray([-3], dtype=np.int64))
    want = {-3: 6, -7: 2, hi: 7, 2**64 - 2: 2}
    blobs = [a.serialize(), b.serialize()]
    assert dict(deserialize_any(merge(blobs)).list()) == want
    if layout == "heavykeeper":
        assert dict(HeavyKeeper.deserialize(merge_blobs(blobs)).list()) == want
    assert dict(a.merge(b).list()) == want


def _occurrence_feed(sk, col, max_token_len: int, seed: int) -> bool:
    """The token feed before ``native.token_counts``: every occurrence's
    hash from ``ascii_tokens`` into ``add_batch_hashed`` with no
    weights. Kept as the reference the distinct-token feed must equal."""
    import pyarrow.compute as pc

    from heavykeeper_rs_spark.kernel import arrow_string_buffers
    from heavykeeper_rs_spark.native import ascii_tokens

    if col.null_count:
        col = pc.fill_null(col, "")
    offsets, data = arrow_string_buffers(col)
    toks = ascii_tokens(offsets, data, max_token_len, seed)
    if toks is None:
        return False
    hashes, starts, lens = toks

    def key_take(sel):
        return np.asarray(
            [data[s : s + l].tobytes().lower() for s, l in zip(starts[sel], lens[sel])],
            dtype=object,
        )

    sk.add_batch_hashed(hashes, None, key_take)
    return True


@pytest.mark.parametrize("width,max_len", [(16384, 64), (64, 5)], ids=["exact", "contested"])
def test_distinct_token_feed_equals_the_occurrence_feed(spark, monkeypatch, width, max_len):
    """``_feed_tokens_arrow`` hands ``add_batch_hashed`` each batch's
    distinct tokens with their counts; the blob equals the one the
    occurrence feed gives, over webtext docs with a null doc and a
    non-ASCII batch (which both feeds hand to the regex fallback)."""
    import pyarrow as pa

    from heavykeeper_rs_spark.operators import topk
    from heavykeeper_rs_spark.operators.combine import partition_rng
    from heavykeeper_rs_spark.sources.synth import webtext

    docs = webtext(spark, 3000, seed=5, partitions=2).select("text").toArrow().column(0)
    docs = docs.combine_chunks().to_pylist()
    batches = [
        pa.RecordBatch.from_pydict({"text": docs[:1000] + [None, "Tail  WORDS"]}),
        pa.RecordBatch.from_pydict({"text": ["Ünïcode Straße café", *docs[1000:1500]]}),
        pa.RecordBatch.from_pydict({"text": docs[1500:]}).slice(7),
    ]
    params = HKParams(k=40, width=width, depth=4, decay=0.9, seed=11)
    feed = topk._feed_tokens("[a-z]+", max_len, params.seed)

    def blob():
        sk = HeavyKeeper(params, rng=partition_rng(params.seed, 3))
        feed(sk, iter(batches))
        return sk.serialize()

    new = blob()
    monkeypatch.setattr(topk, "_feed_tokens_arrow", _occurrence_feed)
    assert new == blob()
