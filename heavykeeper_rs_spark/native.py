"""Native byte kernels of the text lane: the ASCII tokenizer and the
seeded string hash, one C pass per byte, called through ``ctypes``.

The C source lives here as a string because ``--py-files`` zips ship
only ``.py`` files. It is compiled on first use in each process into a
private ``tempfile.mkdtemp()`` directory, loaded, and the directory is
deleted: there is no shared cache path where a foreign ``.so`` could be
planted, and no cross-process locking. A missing compiler or a failed
compile raises ``RuntimeError`` naming the command.

The hash is the repo's canonical str/bytes fingerprint (persisted
blobs depend on it): seeded FNV-1a over the bytes, then
``h ^= len << 56``, then the splitmix64 finalizer. The tokenizer
yields every ``[a-z]+`` run of the ASCII-lowered text, split at
document boundaries, hashed over its lowered bytes.

The wrappers check every buffer before C sees a pointer: offsets are
non-decreasing and lie inside ``data``, slices are non-negative and end
inside ``data``.
"""

from __future__ import annotations

import ctypes
import functools
import os
import shutil
import subprocess
import tempfile

import numpy as np

_CC = ("cc", "-O2", "-shared", "-fPIC")

_SRC = r"""
#include <stdint.h>

#define FNV_PRIME 0x100000001B3ULL

static uint64_t finish(uint64_t h, int64_t len) {
    h ^= (uint64_t)len << 56;
    h = (h ^ (h >> 30)) * 0xBF58476D1CE4E5B9ULL;
    h = (h ^ (h >> 27)) * 0x94D049BB133111EBULL;
    return h ^ (h >> 31);
}

void hash_slices(const int64_t *starts, const int64_t *lens, int64_t n,
                 const uint8_t *data, uint64_t h0, uint64_t *out) {
    for (int64_t i = 0; i < n; i++) {
        const uint8_t *p = data + starts[i];
        uint64_t h = h0;
        for (int64_t j = 0; j < lens[i]; j++)
            h = (h ^ p[j]) * FNV_PRIME;
        out[i] = finish(h, lens[i]);
    }
}

/* Tokens of docs [offsets[d], offsets[d+1]); runs longer than max_len
   are dropped. With hashes == NULL only counts. Returns the token
   count, or -1 at the first byte >= 128. */
int64_t ascii_tokens(const int64_t *offsets, int64_t ndocs,
                     const uint8_t *data, int64_t max_len, uint64_t h0,
                     uint64_t *hashes, int64_t *starts, int64_t *lens) {
    int64_t n = 0;
    for (int64_t d = 0; d < ndocs; d++) {
        int64_t i = offsets[d], end = offsets[d + 1];
        while (i < end) {
            if (data[i] >= 128) return -1;
            if ((uint8_t)((data[i] | 0x20) - 'a') >= 26) { i++; continue; }
            int64_t s = i;
            uint64_t h = h0;
            for (; i < end; i++) {
                uint8_t c = data[i] | 0x20;
                if ((uint8_t)(c - 'a') >= 26) break;
                if (hashes) h = (h ^ c) * FNV_PRIME;
            }
            if (i - s > max_len) continue;
            if (hashes) {
                hashes[n] = finish(h, i - s);
                starts[n] = s;
                lens[n] = i - s;
            }
            n++;
        }
    }
    return n;
}
"""


def _build() -> ctypes.CDLL:
    """Compile ``_SRC`` with ``_CC`` into a private temp dir and load it."""
    tmp = tempfile.mkdtemp(prefix="hk_native_")
    try:
        src = os.path.join(tmp, "hk.c")
        so = os.path.join(tmp, "hk.so")
        with open(src, "w") as f:
            f.write(_SRC)
        cmd = [*_CC, "-o", so, src]
        try:
            subprocess.run(cmd, check=True, capture_output=True, text=True)
        except FileNotFoundError as e:
            raise RuntimeError(f"native build failed: {' '.join(cmd)}: {e}") from e
        except subprocess.CalledProcessError as e:
            raise RuntimeError(
                f"native build failed: {' '.join(cmd)}:\n{e.stderr}"
            ) from e
        lib = ctypes.CDLL(so)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    p, i64, u64 = ctypes.c_void_p, ctypes.c_int64, ctypes.c_uint64
    lib.hash_slices.argtypes = [p, p, i64, p, u64, p]
    lib.hash_slices.restype = None
    lib.ascii_tokens.argtypes = [p, i64, p, i64, u64, p, p, p]
    lib.ascii_tokens.restype = i64
    return lib


_lib = functools.cache(_build)


def _h0(seed: int) -> int:
    """Seeded FNV-1a start state."""
    return 0xCBF29CE484222325 ^ ((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)


def _bytes(data: np.ndarray) -> np.ndarray:
    data = np.ascontiguousarray(data)
    if data.dtype != np.uint8 or data.ndim != 1:
        raise ValueError(f"data must be a 1-D uint8 buffer, got {data.dtype}/{data.ndim}-D")
    return data


def hash_slices(
    starts: np.ndarray, lens: np.ndarray, data: np.ndarray, seed: int
) -> np.ndarray:
    """Seeded 64-bit hash of the byte slices ``data[s:s+l]`` (slices
    may overlap or be out of order)."""
    data = _bytes(data)
    starts = np.ascontiguousarray(starts, dtype=np.int64)
    lens = np.ascontiguousarray(lens, dtype=np.int64)
    n = starts.shape[0]
    if starts.ndim != 1 or lens.shape != starts.shape:
        raise ValueError("starts and lens must be 1-D and of equal length")
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    if (
        starts.min() < 0
        or lens.min() < 0
        or starts.max() > data.size
        or lens.max() > data.size
        or (starts + lens).max() > data.size
    ):
        raise ValueError("byte slices must be non-negative and end inside data")
    _lib().hash_slices(
        starts.ctypes.data, lens.ctypes.data, n, data.ctypes.data, _h0(seed),
        out.ctypes.data,
    )
    return out


def ascii_tokens(
    offsets: np.ndarray, data: np.ndarray, max_len: int, seed: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """``(hashes, starts, lens)`` of every ``[a-z]+`` run in the
    ASCII-lowered bytes of docs ``data[offsets[d]:offsets[d+1]]`` —
    ``re.findall('[a-z]+', text.lower())`` per doc for ASCII text.
    Runs longer than ``max_len`` are dropped (0 keeps every run). The
    hashes equal ``hash_slices`` over the lowered bytes. Returns None
    when a doc holds a byte >= 128: Unicode case folding then differs
    from the byte fold, so the caller takes its ``str`` path."""
    data = _bytes(data)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    if offsets.ndim != 1 or offsets.size == 0:
        raise ValueError("offsets must be a non-empty 1-D array")
    if offsets[0] < 0 or offsets[-1] > data.size or (np.diff(offsets) < 0).any():
        raise ValueError("offsets must be non-decreasing and lie inside data")
    ndocs = offsets.size - 1
    max_len = max_len if max_len > 0 else data.size
    lib = _lib()
    args = (offsets.ctypes.data, ndocs, data.ctypes.data, max_len, _h0(seed))
    n = lib.ascii_tokens(*args, None, None, None)
    if n < 0:
        return None
    hashes = np.empty(n, dtype=np.uint64)
    starts = np.empty(n, dtype=np.int64)
    lens = np.empty(n, dtype=np.int64)
    lib.ascii_tokens(
        *args, hashes.ctypes.data, starts.ctypes.data, lens.ctypes.data
    )
    return hashes, starts, lens
