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
