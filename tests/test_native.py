"""The C byte kernels' wrappers: malformed buffers raise before any
pointer reaches C, and a failed build names its command."""

from __future__ import annotations

import numpy as np
import pytest

from heavykeeper_rs_spark import native

DATA = np.frombuffer(b"alpha beta gamma", dtype=np.uint8)


@pytest.mark.parametrize(
    "offsets",
    [[0, 9, 5, 16], [0, 17], [-1, 16], []],
    ids=["decreasing", "past-end", "negative", "empty"],
)
def test_ascii_tokens_rejects_bad_offsets(offsets):
    with pytest.raises(ValueError):
        native.ascii_tokens(np.asarray(offsets, dtype=np.int64), DATA, 64, 1)


@pytest.mark.parametrize(
    "starts,lens",
    [([0, -1], [1, 1]), ([0, 1], [1, -1]), ([10], [7]), ([17], [0]), ([0], [1, 2])],
    ids=["neg-start", "neg-len", "end-past-data", "start-past-data", "shape"],
)
def test_hash_slices_rejects_bad_slices(starts, lens):
    with pytest.raises(ValueError):
        native.hash_slices(np.asarray(starts), np.asarray(lens), DATA, 1)


def test_wrong_dtype_rejected():
    with pytest.raises(ValueError):
        native.hash_slices(np.asarray([0]), np.asarray([1]), DATA.astype(np.int16), 1)


def test_slice_ending_at_data_end_is_accepted():
    h = native.hash_slices(np.asarray([11, 16]), np.asarray([5, 0]), DATA, 1)
    assert h.tolist() == native.hash_slices(
        np.asarray([0, 0]), np.asarray([5, 0]),
        np.frombuffer(b"gamma", dtype=np.uint8), 1,
    ).tolist()


def test_non_ascii_byte_returns_none():
    data = np.frombuffer("abc é".encode(), dtype=np.uint8)
    assert native.ascii_tokens(np.asarray([0, data.size]), data, 64, 1) is None
    # the same byte outside every doc's range is never read
    h, s, l = native.ascii_tokens(np.asarray([0, 3]), data, 64, 1)
    assert s.tolist() == [0] and l.tolist() == [3]


def test_missing_compiler_names_command(monkeypatch):
    monkeypatch.setattr(native, "_CC", ("/nonexistent/cc", "-O2", "-shared", "-fPIC"))
    with pytest.raises(RuntimeError, match="/nonexistent/cc -O2 -shared -fPIC"):
        native._build()


def test_compile_error_carries_stderr(monkeypatch):
    monkeypatch.setattr(native, "_SRC", "this is not C;\n")
    with pytest.raises(RuntimeError, match=r"(?s)cc -O2 -shared -fPIC.*error"):
        native._build()


# ------------------------------------------------------------ add loops
def _per_unit(c: int, w: int, decay: float, rng) -> tuple[bool, int]:
    """The reference's duel, one unit at a time (src/heavykeeper.rs:
    309-328): each unit decrements the occupant with probability
    decay**count; at 0 the challenger takes the cell with the units
    left, the converting one included. Returns (occupant kept, count)."""
    for left in range(w, 0, -1):
        if rng.random() < decay**c:
            c -= 1
            if c == 0:
                return False, left
    return True, c


class TestCellAdd:
    @pytest.mark.parametrize("c0,w", [(6, 3), (6, 1), (2, 50)])
    def test_matches_per_unit_bernoulli(self, c0, w):
        """Geometric gaps between decrements sample the same duel as the
        per-unit Bernoulli loop: survival rate and mean count agree
        within Monte Carlo noise (5 standard errors)."""
        n, decay = 20_000, 0.9
        fps = np.ones(n, dtype=np.uint64)
        cnt = np.full(n, c0, dtype=np.uint64)
        native.hk_add(
            fps, cnt, np.arange(n), np.full(n, 2, dtype=np.uint64),
            np.full(n, w), decay, 7,
        )
        kept_c, count_c = fps == 1, cnt.astype(np.float64)
        rng = np.random.default_rng(11)
        ref = [_per_unit(c0, w, decay, rng) for _ in range(n)]
        kept_r = np.asarray([k for k, _ in ref])
        count_r = np.asarray([c for _, c in ref], dtype=np.float64)
        for a, b in ((kept_c, kept_r), (count_c, count_r)):
            se = np.sqrt(a.var() / n + b.var() / n)
            assert abs(a.mean() - b.mean()) <= 5 * se + 1e-9, (a.mean(), b.mean())

    def test_forced_decay_takeover_counts_converting_trial(self):
        # 3000 against a count-1000 cell at decay 1.0 leaves 2001
        # (src/heavykeeper.rs:766-794); at decay 0.0 nothing decrements
        for decay, want in ((1.0, (7, 2001)), (0.0, (5, 1000))):
            fps = np.asarray([5], dtype=np.uint64)
            cnt = np.asarray([1000], dtype=np.uint64)
            native.hk_add(fps, cnt, [0], [7], [3000], decay, 1)
            assert (int(fps[0]), int(cnt[0])) == want

    @pytest.mark.parametrize("w", [1, 2, 999])
    def test_forced_decay_lighter_challenger_only_decrements(self, w):
        # at decay 1.0 each unit of a lighter challenger takes one off
        # the cell; it used to run past its weight and wrap the count
        fps = np.asarray([5], dtype=np.uint64)
        cnt = np.asarray([1000], dtype=np.uint64)
        native.hk_add(fps, cnt, [0], [7], [w], 1.0, 1)
        assert (int(fps[0]), int(cnt[0])) == (5, 1000 - w)

    def test_bucketed_picks_match_then_empty_then_min(self):
        fps = np.asarray([[1, 0, 3], [4, 5, 6]], dtype=np.uint64)
        cnt = np.asarray([[9, 0, 2], [7, 3, 8]], dtype=np.uint64)
        # bucket 0: fp 3 matches its cell, fp 8 takes the empty cell;
        # bucket 1 is full, so fp 9 duels its minimum (fp 5 at 3)
        native.bucketed_add(fps, cnt, [0, 0, 1], [3, 8, 9], [4, 1, 10], 1.0, 1)
        assert fps.tolist() == [[1, 8, 3], [4, 9, 6]]
        assert cnt.tolist() == [[9, 1, 6], [7, 8, 8]]


def _state(shape=(2, 4)):
    return np.zeros(shape, dtype=np.uint64), np.zeros(shape, dtype=np.uint64)


def _readonly(a):
    a.setflags(write=False)
    return a


@pytest.mark.parametrize(
    "case",
    [
        dict(cells=[[0], [8]]),
        dict(cells=[[-1], [0]]),
        dict(fp=[1, 2]),
        dict(w=[0]),
        dict(fps=_readonly(_state()[0])),
        dict(counts=np.zeros((2, 8), dtype=np.uint64)[:, ::2]),
        dict(fps=np.zeros((2, 4), dtype=np.int64)),
        dict(counts=np.zeros((4, 2), dtype=np.uint64)),
    ],
    ids=[
        "cell-past-end", "cell-negative", "length-mismatch", "weight-below-1",
        "read-only", "non-contiguous", "wrong-dtype", "shape-mismatch",
    ],
)
def test_hk_add_refuses_bad_buffers(case):
    fps, counts = _state()
    args = dict(fps=fps, counts=counts, cells=[[0], [4]], fp=[1], w=[1])
    args.update(case)
    with pytest.raises(ValueError):
        native.hk_add(**args, decay=0.9, seed=1)
    assert not fps.any() and not counts.any()  # C never ran


@pytest.mark.parametrize(
    "case",
    [
        dict(bucket=[2]),
        dict(bucket=[-1]),
        dict(w=[1, 1]),
        dict(w=[-3]),
        dict(counts=_readonly(_state()[1])),
        dict(fps=np.zeros((2, 8), dtype=np.uint64)[:, ::2]),
        dict(counts=np.zeros((2, 4), dtype=np.float64)),
        dict(fps=np.zeros(8, dtype=np.uint64), counts=np.zeros(8, dtype=np.uint64)),
    ],
    ids=[
        "bucket-past-end", "bucket-negative", "length-mismatch", "weight-below-1",
        "read-only", "non-contiguous", "wrong-dtype", "not-2d",
    ],
)
def test_bucketed_add_refuses_bad_buffers(case):
    fps, counts = _state()
    args = dict(fps=fps, counts=counts, bucket=[1], fp=[1], w=[1])
    args.update(case)
    with pytest.raises(ValueError):
        native.bucketed_add(**args, decay=0.9, seed=1)
    assert not fps.any() and not counts.any()  # C never ran


def _cuckoo_state(width=4, depth=2):
    return dict(
        lobby_fp=np.zeros(width, dtype=np.uint64),
        lobby_c=np.zeros(width, dtype=np.uint64),
        heavy_fp=np.zeros((width, depth), dtype=np.uint64),
        heavy_c=np.zeros((width, depth), dtype=np.uint64),
    )


@pytest.mark.parametrize("op", ["add", "merge"])
@pytest.mark.parametrize(
    "case",
    [
        dict(lobby_c=np.zeros(4, dtype=np.int64)),
        dict(heavy_fp=np.zeros((4, 2), dtype=np.float64)),
        dict(lobby_fp=np.zeros(5, dtype=np.uint64), lobby_c=np.zeros(5, dtype=np.uint64)),
        dict(heavy_fp=np.zeros(8, dtype=np.uint64), heavy_c=np.zeros(8, dtype=np.uint64)),
        dict(heavy_c=np.zeros((4, 3), dtype=np.uint64)),
        dict(heavy_fp=np.zeros((0, 2), dtype=np.uint64), heavy_c=np.zeros((0, 2), dtype=np.uint64),
             lobby_fp=np.zeros(0, dtype=np.uint64), lobby_c=np.zeros(0, dtype=np.uint64)),
        dict(heavy_c=_readonly(np.zeros((4, 2), dtype=np.uint64))),
        dict(lobby_fp=np.zeros(8, dtype=np.uint64)[::2]),
        dict(max_kicks=0),
        dict(w=[0]),
        dict(w=[1, 1]),
    ],
    ids=[
        "lobby-dtype", "heavy-dtype", "lobby-width", "heavy-not-2d", "heavy-shape-mismatch",
        "width-0", "read-only", "non-contiguous", "max-kicks-0", "weight-0", "length-mismatch",
    ],
)
def test_cuckoo_refuses_bad_buffers(op, case):
    """Both Cuckoo loops check the state and the items before C runs:
    a refused call leaves every state array untouched."""
    args = dict(_cuckoo_state(), max_kicks=4, fp=[1], w=[1])
    args.update(case)
    before = {k: np.copy(args[k]) for k in ("lobby_fp", "lobby_c", "heavy_fp", "heavy_c")}
    w = args.pop("w")
    with pytest.raises(ValueError):
        if op == "add":
            native.cuckoo_add(**args, w=w, decay=1.0, seed=1)
        else:
            native.cuckoo_merge_heavy(**args, counts=w)
    for k, a in before.items():
        assert np.array_equal(args[k], a), k  # C never ran


def test_cuckoo_pairs_refuses_width_0():
    with pytest.raises(ValueError):
        native.cuckoo_pairs(np.asarray([1], dtype=np.uint64), 0)


# ------------------------------------------------------------ collapse
@pytest.mark.parametrize(
    "words,weights",
    [
        (np.zeros((2, 2), dtype=np.uint64), None),
        (np.zeros(4, dtype=np.int32), None),
        (np.zeros(4, dtype=np.float64), None),
        ([1, 2, 3], None),
        (np.zeros(4, dtype=np.uint64), np.ones(3)),
        (np.zeros(4, dtype=np.uint64), np.ones((4, 1))),
    ],
    ids=["not-1d", "int32", "float64", "list", "weight-length", "weight-2d"],
)
def test_collapse_refuses_bad_buffers(words, weights):
    with pytest.raises(ValueError):
        native.collapse(words, weights)


def test_collapse_first_occurrence_order_and_row_order_sums():
    x = np.asarray([5, -3, 5, 7, -3, 5], dtype=np.int64)
    words, first, total = native.collapse(x)
    assert words.tolist() == [5, 2**64 - 3, 7]
    assert first.tolist() == [0, 1, 3] and total.tolist() == [3.0, 2.0, 1.0]
    w = np.asarray([0.1, 1.0, 0.2, 4.0, -1.0, 0.3])
    _, _, total = native.collapse(x, w)
    assert total.tolist() == [0.0 + 0.1 + 0.2 + 0.3, 0.0, 4.0]
    # past the first table size: the table grows and keeps every word
    r = np.random.default_rng(0).integers(0, 1 << 63, 5000).astype(np.uint64)
    words, first, total = native.collapse(np.r_[r, r[::-1]])
    assert np.array_equal(words, r) and np.array_equal(first, np.arange(5000))
    assert (total == 2.0).all()
    assert all(a.size == 0 for a in native.collapse(np.zeros(0, dtype=np.uint64)))
