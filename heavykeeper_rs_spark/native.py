"""Native kernels, one C pass each, called through ``ctypes``: the
text lane's ASCII tokenizer and seeded string hash, the batch collapse,
and the sketch add loops of the HeavyKeeper, Bucketed and Cuckoo
layouts with Cuckoo's merge.

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

``collapse``, the one batch collapse (behind ``kernel.preaggregate``),
passes once over 64-bit words through an open-addressing table that
doubles at load 1/2: each distinct word, its first position and its
weight summed in row order.

The add loops are the reference's ``add`` (src/heavykeeper.rs:281-354)
over pre-aggregated ``(fingerprint, weight)`` arrays, one item after
another in array order. ``cell_add`` gives the weight to an empty cell
or a matching fingerprint; any other cell fights the exponential-decay
duel: each unit of weight decrements the cell with probability
``decay**count``, sampled with geometric gaps between decrements, and
when the cell reaches 0 the challenger takes it, the converting trial
counting as its first unit (3000 vs a count-1000 cell at decay 1.0
leaves 2001, src/heavykeeper.rs:766-794). The draws come from a
splitmix64 stream seeded by the caller.

The Cuckoo loops (src/cuckoo.rs:635-707) derive both candidate buckets
of each fingerprint themselves (``cuckoo_pairs``, the one
``bucket_pair``). ``cuckoo_add`` gives a heavy hit its weight, else
duels the lobby cell of the primary bucket with ``cell_add``, and
promotes a lobby holder into an empty heavy slot or over the lighter
minimum slot, whose victim walks a kick chain of at most ``max_kicks``
hops. ``cuckoo_merge_heavy`` merges another sketch's heavy cells with
no decay: first the cells already heavy here, then the rest in order,
placed as a promotion is.

The wrappers check every buffer before C sees a pointer: offsets are
non-decreasing and lie inside ``data``, slices are non-negative and end
inside ``data``, collapse words are 1-D ``int64``/``uint64`` with as
many weights, cell and bucket ids lie inside the state, item arrays
agree in length, weights are at least 1, and the state arrays are
writable, C-contiguous ``uint64`` (Cuckoo's: lobby ``(width,)``, heavy
``(width, depth)``, ``max_kicks >= 1``).
"""

from __future__ import annotations

import ctypes
import functools
import math
import os
import shutil
import subprocess
import tempfile

import numpy as np

_CC = ("cc", "-O2", "-shared", "-fPIC")
_LIBS = ("-lm",)

_SRC = r"""
#include <math.h>
#include <stdint.h>
#include <stdlib.h>

#define FNV_PRIME 0x100000001B3ULL

static uint64_t mix(uint64_t h) {
    h = (h ^ (h >> 30)) * 0xBF58476D1CE4E5B9ULL;
    h = (h ^ (h >> 27)) * 0x94D049BB133111EBULL;
    return h ^ (h >> 31);
}

static uint64_t finish(uint64_t h, int64_t len) {
    return mix(h ^ ((uint64_t)len << 56));
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

typedef struct { uint64_t word; int64_t id; } slot_t;  /* id 0: empty */

/* The slot holding word x, else the empty slot where it goes. */
static uint64_t slot_of(const slot_t *t, uint64_t mask, uint64_t x) {
    uint64_t s = mix(x) & mask;
    while (t[s].id && t[s].word != x) s = (s + 1) & mask;
    return s;
}

/* The distinct words of x in first-occurrence order: words[d], first[d]
   its first position, sum[d] its weights added in row order from 0.0
   (w == NULL counts rows). The table doubles at load 1/2. Returns the
   distinct count, or -1 when the table cannot be allocated. */
int64_t collapse(const uint64_t *x, const double *w, int64_t n,
                 uint64_t *words, int64_t *first, double *sum) {
    uint64_t mask = 1023;
    int64_t d = 0;
    slot_t *t = calloc(mask + 1, sizeof *t);
    for (int64_t i = 0; t && i < n; i++) {
        uint64_t s = slot_of(t, mask, x[i]);
        if (!t[s].id) {
            t[s] = (slot_t){words[d] = x[i], d + 1};
            first[d] = i;
            sum[d++] = 0.0;
        }
        sum[t[s].id - 1] += w ? w[i] : 1.0;
        if ((uint64_t)d * 2 > mask + 1) {
            free(t);
            mask = 2 * mask + 1;
            if ((t = calloc(mask + 1, sizeof *t)))
                for (int64_t j = 0; j < d; j++)
                    t[slot_of(t, mask, words[j])] = (slot_t){words[j], j + 1};
        }
    }
    if (!t) return -1;
    free(t);
    return d;
}

typedef struct {
    const double *lut;  /* lut[c] = decay**c for c < nlut */
    int64_t nlut;
    double decay;
    uint64_t rng;       /* splitmix64 state */
} duel_t;

/* A uniform draw in (0, 1]. */
static double uniform(duel_t *d) {
    return (double)((mix(d->rng += 0x9E3779B97F4A7C15ULL) >> 11) + 1) * 0x1p-53;
}

/* decay**c: the table, then pow() past its end unless the table
   already ran down to 0 */
static double decrement_p(const duel_t *d, uint64_t c) {
    if (c < (uint64_t)d->nlut) return d->lut[c];
    return d->lut[d->nlut - 1] > 0.0 ? pow(d->decay, (double)c) : 0.0;
}

static void cell_add(uint64_t *fps, uint64_t *cnt, int64_t cell,
                     uint64_t fp, int64_t w, duel_t *d) {
    uint64_t c = cnt[cell];
    if (c == 0 || fps[cell] == fp) {
        fps[cell] = fp;
        cnt[cell] = c + (uint64_t)w;
        return;
    }
    for (;;) {
        double p = decrement_p(d, c);
        if (p <= 0.0) break;
        /* t = trials up to and including the next decrement, drawn
           Geometric(p); there is none within w trials iff
           u <= (1-p)**w, which for w == 1 needs no log */
        double u = uniform(d), t = 1.0;
        if (w == 1) {
            if (u <= 1.0 - p) break;
        } else if (p < 1.0) {
            t = floor(log(u) / log1p(-p)) + 1.0;
            if (t > (double)w) break;
        } else if (w == 0) {
            break;  /* p == 1: one unit per decrement, none left */
        }
        w -= (int64_t)t;
        if (--c == 0) {
            fps[cell] = fp;
            cnt[cell] = (uint64_t)w + 1;
            return;
        }
    }
    cnt[cell] = c;
}

/* Item i adds to cell idx[r*n + i] of each row r < depth. */
void hk_add(uint64_t *fps, uint64_t *cnt, const int64_t *idx, int64_t depth,
            int64_t n, const uint64_t *fp, const int64_t *w,
            const double *lut, int64_t nlut, double decay, uint64_t seed) {
    duel_t d = {lut, nlut, decay, seed};
    for (int64_t i = 0; i < n; i++)
        for (int64_t r = 0; r < depth; r++)
            cell_add(fps, cnt, idx[r * n + i], fp[i], w[i], &d);
}

/* Item i adds to one cell of bucket[i] (cells bucket[i]*depth ...
   +depth-1): its first matching cell, else its first empty cell, else
   its first minimum cell. */
void bucketed_add(uint64_t *fps, uint64_t *cnt, const int64_t *bucket,
                  int64_t depth, int64_t n, const uint64_t *fp,
                  const int64_t *w, const double *lut, int64_t nlut,
                  double decay, uint64_t seed) {
    duel_t d = {lut, nlut, decay, seed};
    for (int64_t i = 0; i < n; i++) {
        int64_t lo = bucket[i] * depth, cell = -1, empty = -1, low = lo;
        for (int64_t j = lo; j < lo + depth && cell < 0; j++) {
            if (cnt[j] == 0) {
                if (empty < 0) empty = j;
            } else if (fps[j] == fp[i]) {
                cell = j;
            } else if (cnt[j] < cnt[low]) {
                low = j;
            }
        }
        cell_add(fps, cnt, cell >= 0 ? cell : empty >= 0 ? empty : low, fp[i],
                 w[i], &d);
    }
}

/* Cuckoo layout: bucket b has lobby cell b and heavy slots
   b*depth ... b*depth+depth-1. */
typedef struct {
    uint64_t *lfp, *lc, *hfp, *hc;
    int64_t width, depth, max_kicks;
} cuckoo_t;

static int64_t bucket_of(uint64_t h, int64_t width) {
    uint64_t w = (uint64_t)width;
    return (int64_t)((w & (w - 1)) == 0 ? h & (w - 1) : h % w);
}

/* bucket_pair (src/cuckoo.rs:569-580) */
static void pair(uint64_t fp, int64_t width, int64_t *b1, int64_t *b2) {
    *b1 = *b2 = bucket_of(fp, width);
    if (width == 1) return;
    *b2 = bucket_of(mix(fp ^ 0x9E3779B97F4A7C15ULL), width);
    if (*b2 == *b1) *b2 = (*b2 + 1) % width;
}

void cuckoo_pairs(const uint64_t *fp, int64_t n, int64_t width, int64_t *b1,
                  int64_t *b2) {
    for (int64_t i = 0; i < n; i++) pair(fp[i], width, &b1[i], &b2[i]);
}

/* The live heavy slot holding fp in b1, else in b2; -1 when none. */
static int64_t find_heavy(const cuckoo_t *s, uint64_t fp, int64_t b1,
                          int64_t b2) {
    for (int64_t b = b1;; b = b2) {
        for (int64_t j = b * s->depth; j < (b + 1) * s->depth; j++)
            if (s->hc[j] && s->hfp[j] == fp) return j;
        if (b == b2) return -1;
    }
}

/* The first minimum slot of bucket b: its first empty slot if any. */
static int64_t min_slot(const cuckoo_t *s, int64_t b) {
    int64_t m = b * s->depth;
    for (int64_t j = m + 1; j < (b + 1) * s->depth; j++)
        if (s->hc[j] < s->hc[m]) m = j;
    return m;
}

/* Bounded kick chain (src/cuckoo.rs:678-707): the victim (fp, c)
   displaced from bucket `from` moves to its other bucket's minimum
   slot if that is empty or strictly lighter, displacing its occupant
   in turn; whatever is displaced after max_kicks hops is dropped. */
static void relocate(cuckoo_t *s, uint64_t fp, uint64_t c, int64_t from) {
    for (int64_t k = 0; k < s->max_kicks && c; k++) {
        int64_t b1, b2;
        pair(fp, s->width, &b1, &b2);
        int64_t to = from == b1 ? b2 : b1;
        if (to == from) return;
        int64_t j = min_slot(s, to);
        uint64_t tfp = s->hfp[j], tc = s->hc[j];
        if (tc && c <= tc) return;
        s->hfp[j] = fp;
        s->hc[j] = c;
        fp = tfp;
        c = tc;
        from = to;
    }
}

/* Promotion (src/cuckoo.rs:653-676): the first empty slot of b1, then
   of b2; else the minimum slot over both buckets (b2's only when
   strictly smaller), taken only when c is strictly heavier, its victim
   relocated. Returns whether (fp, c) was placed. */
static int place(cuckoo_t *s, uint64_t fp, uint64_t c, int64_t b1,
                 int64_t b2) {
    int64_t j = min_slot(s, b1);
    if (b2 != b1) {
        int64_t j2 = min_slot(s, b2);
        if (s->hc[j2] < s->hc[j]) j = j2;
    }
    uint64_t vfp = s->hfp[j], vc = s->hc[j];
    if (vc && c <= vc) return 0;
    s->hfp[j] = fp;
    s->hc[j] = c;
    relocate(s, vfp, vc, j / s->depth);
    return 1;
}

/* Item i (src/cuckoo.rs:635-707): a heavy hit takes the weight; else
   it duels the lobby cell of its primary bucket, and a lobby holder is
   promoted, leaving the lobby empty. est[i] is the item's heavy count
   after the add, 0 when it is not heavy. */
void cuckoo_add(uint64_t *lfp, uint64_t *lc, uint64_t *hfp, uint64_t *hc,
                int64_t width, int64_t depth, int64_t max_kicks, int64_t n,
                const uint64_t *fp, const int64_t *w, const double *lut,
                int64_t nlut, double decay, uint64_t seed, int64_t *est) {
    cuckoo_t s = {lfp, lc, hfp, hc, width, depth, max_kicks};
    duel_t d = {lut, nlut, decay, seed};
    for (int64_t i = 0; i < n; i++) {
        int64_t b1, b2, j;
        pair(fp[i], width, &b1, &b2);
        est[i] = 0;
        if ((j = find_heavy(&s, fp[i], b1, b2)) >= 0) {
            hc[j] += (uint64_t)w[i];
            est[i] = (int64_t)hc[j];
            continue;
        }
        cell_add(lfp, lc, b1, fp[i], w[i], &d);
        if (lc[b1] && lfp[b1] == fp[i] && place(&s, fp[i], lc[b1], b1, b2)) {
            est[i] = (int64_t)lc[b1];
            lfp[b1] = lc[b1] = 0;
        }
    }
}

/* Another sketch's live heavy cells (fp[i], c[i]) merged in, with no
   decay (src/cuckoo.rs:471-517). First every cell already heavy here,
   with no lobby entry at its primary bucket, adds to its slot, so mass
   on both sides sums before any eviction; then each other cell, in
   order, takes a lobby entry of its own along, adds to its slot if it
   is heavy by now, else is placed as a promotion is. c is consumed:
   the first pass zeroes the cells it merged. */
void cuckoo_merge_heavy(uint64_t *lfp, uint64_t *lc, uint64_t *hfp,
                        uint64_t *hc, int64_t width, int64_t depth,
                        int64_t max_kicks, int64_t n, const uint64_t *fp,
                        uint64_t *c) {
    cuckoo_t s = {lfp, lc, hfp, hc, width, depth, max_kicks};
    int64_t b1, b2, j;
    for (int64_t i = 0; i < n; i++) {
        pair(fp[i], width, &b1, &b2);
        if (!(lc[b1] && lfp[b1] == fp[i]) &&
            (j = find_heavy(&s, fp[i], b1, b2)) >= 0) {
            hc[j] += c[i];
            c[i] = 0;
        }
    }
    for (int64_t i = 0; i < n; i++) {
        if (!c[i]) continue;
        pair(fp[i], width, &b1, &b2);
        uint64_t cnt = c[i];
        if (lc[b1] && lfp[b1] == fp[i]) {
            cnt += lc[b1];
            lfp[b1] = lc[b1] = 0;
        }
        if ((j = find_heavy(&s, fp[i], b1, b2)) >= 0)
            hc[j] += cnt;
        else
            place(&s, fp[i], cnt, b1, b2);
    }
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
        cmd = [*_CC, "-o", so, src, *_LIBS]
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
    lib.collapse.argtypes = [p, p, i64, p, p, p]
    lib.collapse.restype = i64
    f64 = ctypes.c_double
    for add in (lib.hk_add, lib.bucketed_add):
        add.argtypes = [p, p, p, i64, i64, p, p, p, i64, f64, u64]
        add.restype = None
    lib.cuckoo_pairs.argtypes = [p, i64, i64, p, p]
    lib.cuckoo_add.argtypes = [p, p, p, p, i64, i64, i64, i64, p, p, p, i64, f64, u64, p]
    lib.cuckoo_merge_heavy.argtypes = [p, p, p, p, i64, i64, i64, i64, p, p]
    for f in (lib.cuckoo_pairs, lib.cuckoo_add, lib.cuckoo_merge_heavy):
        f.restype = None
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


def collapse(
    words: np.ndarray, weights: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(distinct, first, total)`` of a batch of 64-bit words (raw
    int64/uint64 keys, or fingerprints), one entry per distinct word in
    first-occurrence order: the word as ``uint64``, its first position
    and its ``float64`` weight summed in row order (``weights=None``
    counts rows). One pass through a hash table sized by the distinct
    count; a table that cannot be allocated raises ``MemoryError``."""
    if not (
        isinstance(words, np.ndarray) and words.ndim == 1
        and words.dtype in (np.int64, np.uint64)
    ):
        raise ValueError("words must be a 1-D int64 or uint64 array")
    words = np.ascontiguousarray(words).view(np.uint64)
    if weights is not None:
        weights = np.ascontiguousarray(weights, dtype=np.float64)
        if weights.shape != words.shape:
            raise ValueError("words and weights must be 1-D and agree in length")
    # pages past the distinct count are never touched
    out = [np.empty(words.size, dtype=t) for t in (np.uint64, np.int64, np.float64)]
    d = _lib().collapse(
        words.ctypes.data, None if weights is None else weights.ctypes.data,
        words.size, *(a.ctypes.data for a in out),
    )
    if d < 0:
        raise MemoryError("native collapse could not allocate its hash table")
    return tuple(a[:d] for a in out)


@functools.lru_cache(maxsize=16)
def _decay_lut(decay: float) -> np.ndarray:
    """``decay**c`` for small integer counts: the analog of the
    reference's precomputed threshold table (src/heavykeeper.rs:95-104).
    It runs until ``decay**c`` underflows to 0, so a count past its end
    can never decrement; when 65536 entries cannot get there (decay
    very close to 1) C takes ``pow()`` past the end."""
    if 0.0 < decay < 1.0:
        size = min(65536, int(math.ceil(-1076.0 / math.log2(decay))) + 1)
    else:
        size = 2
    with np.errstate(under="ignore"):
        lut = np.power(decay, np.arange(size, dtype=np.float64))
    lut.setflags(write=False)  # cached: shared by every caller
    return lut


def _weighted(fp, w, dtype=np.int64):
    """Checked contiguous ``(fp, w)`` of equal length, weights >= 1."""
    fp = np.ascontiguousarray(fp, dtype=np.uint64)
    w = np.ascontiguousarray(w, dtype=dtype)
    if fp.ndim != 1 or w.shape != fp.shape:
        raise ValueError("fp and w must be 1-D and agree in length")
    if fp.size and w.min() < 1:
        raise ValueError("weights must be >= 1")
    return fp, w


def _items(cells, fp, w, depth, n_cells):
    """Checked contiguous ``(cells, fp, w)``: ``depth`` cell ids per
    item, each in ``[0, n_cells)``, and weights >= 1."""
    fp, w = _weighted(fp, w)
    cells = np.ascontiguousarray(cells, dtype=np.int64)
    if cells.size != depth * fp.size:
        raise ValueError("fp, w and the cell ids must agree in length")
    if fp.size and (cells.min() < 0 or cells.max() >= n_cells):
        raise ValueError("cell ids must lie inside the state")
    return cells, fp, w


def _state(fps: np.ndarray, counts: np.ndarray) -> None:
    for a in (fps, counts):
        if not (
            isinstance(a, np.ndarray)
            and a.dtype == np.uint64
            and a.flags.c_contiguous
            and a.flags.writeable
        ):
            raise ValueError("sketch state must be writable C-contiguous uint64")
    if fps.shape != counts.shape:
        raise ValueError("fingerprint and count arrays differ in shape")


def _run(add, fps, counts, cells, depth, fp, w, decay, seed) -> None:
    lut = _decay_lut(float(decay))
    add(
        fps.ctypes.data, counts.ctypes.data, cells.ctypes.data, depth,
        fp.shape[0], fp.ctypes.data, w.ctypes.data, lut.ctypes.data,
        lut.shape[0], float(decay), int(seed),
    )


def hk_add(fps, counts, cells, fp, w, decay: float, seed: int) -> None:
    """Add item ``i`` (fingerprint ``fp[i]``, weight ``w[i]``) to cells
    ``cells[r, i]`` of the flattened state for each row ``r``, items in
    array order. ``cells`` is ``(depth, n)`` or, for depth 1, ``(n,)``."""
    _state(fps, counts)
    depth = np.shape(cells)[0] if np.ndim(cells) == 2 else 1
    cells, fp, w = _items(cells, fp, w, depth, fps.size)
    _run(_lib().hk_add, fps, counts, cells, depth, fp, w, decay, seed)


def bucketed_add(fps, counts, bucket, fp, w, decay: float, seed: int) -> None:
    """Add item ``i`` to bucket ``bucket[i]`` of the ``(width, depth)``
    Bucketed state, items in array order: its first matching cell, else
    its first empty cell, else its first minimum cell."""
    _state(fps, counts)
    if fps.ndim != 2:
        raise ValueError("bucketed state must be (width, depth)")
    bucket, fp, w = _items(bucket, fp, w, 1, fps.shape[0])
    _run(_lib().bucketed_add, fps, counts, bucket, fps.shape[1], fp, w, decay, seed)


def cuckoo_pairs(fp, width: int) -> tuple[np.ndarray, np.ndarray]:
    """The two candidate buckets ``(b1, b2)`` of each fingerprint in a
    Cuckoo sketch of ``width`` buckets (src/cuckoo.rs:569-580): ``b1 =
    fp mod width``, ``b2`` the same of the splitmix64 finalizer of ``fp
    ^ 0x9E3779B97F4A7C15``, moved one bucket on when it equals ``b1``;
    ``(b1, b1)`` at width 1. Persisted HKC1 blobs depend on it."""
    fp = np.ascontiguousarray(fp, dtype=np.uint64)
    if fp.ndim != 1 or int(width) < 1:
        raise ValueError("fp must be 1-D and width >= 1")
    b1 = np.empty(fp.size, dtype=np.int64)
    b2 = np.empty(fp.size, dtype=np.int64)
    _lib().cuckoo_pairs(fp.ctypes.data, fp.size, int(width), b1.ctypes.data, b2.ctypes.data)
    return b1, b2


def _cuckoo(lobby_fp, lobby_c, heavy_fp, heavy_c, max_kicks: int) -> tuple:
    """The checked Cuckoo state as C arguments: lobby ``(width,)``,
    heavy ``(width, depth)``, ``max_kicks >= 1``."""
    _state(lobby_fp, lobby_c)
    _state(heavy_fp, heavy_c)
    if not (
        lobby_fp.ndim == 1
        and heavy_fp.ndim == 2
        and heavy_fp.shape[0] == lobby_fp.shape[0]
        and heavy_fp.size > 0
    ):
        raise ValueError("cuckoo state must be lobby (width,) and heavy (width, depth)")
    if int(max_kicks) < 1:
        raise ValueError(f"max_kicks must be >= 1, got {max_kicks!r}")
    return (
        lobby_fp.ctypes.data, lobby_c.ctypes.data, heavy_fp.ctypes.data,
        heavy_c.ctypes.data, *heavy_fp.shape, int(max_kicks),
    )


def cuckoo_add(
    lobby_fp, lobby_c, heavy_fp, heavy_c, max_kicks: int, fp, w,
    decay: float, seed: int,
) -> np.ndarray:
    """Add item ``i`` (fingerprint ``fp[i]``, weight ``w[i]``) to the
    Cuckoo state, items in array order: a heavy hit in ``b1``, else
    ``b2``, takes the weight; else the item duels the lobby cell of
    ``b1``, and a lobby holder is promoted (first empty slot of ``b1``,
    then ``b2``, else the minimum slot over both when strictly heavier,
    its victim relocated through at most ``max_kicks`` hops). Returns
    each item's heavy count after its add, 0 when it is not heavy."""
    state = _cuckoo(lobby_fp, lobby_c, heavy_fp, heavy_c, max_kicks)
    fp, w = _weighted(fp, w)
    est = np.zeros(fp.size, dtype=np.int64)
    lut = _decay_lut(float(decay))
    _lib().cuckoo_add(
        *state, fp.size, fp.ctypes.data, w.ctypes.data, lut.ctypes.data,
        lut.shape[0], float(decay), int(seed), est.ctypes.data,
    )
    return est


def cuckoo_merge_heavy(
    lobby_fp, lobby_c, heavy_fp, heavy_c, max_kicks: int, fp, counts
) -> None:
    """Merge another Cuckoo sketch's live heavy cells ``(fp[i],
    counts[i])`` into the state, with no decay: first every cell already
    heavy here whose fingerprint holds no lobby cell at its primary
    bucket adds to its slot; then each remaining cell, in array order,
    folds in its own lobby entry and adds to its heavy slot, else is
    placed as ``cuckoo_add`` promotes a lobby holder."""
    state = _cuckoo(lobby_fp, lobby_c, heavy_fp, heavy_c, max_kicks)
    fp, counts = _weighted(fp, counts, np.uint64)
    counts = counts.copy()  # C zeroes the cells its first pass merged
    _lib().cuckoo_merge_heavy(*state, fp.size, fp.ctypes.data, counts.ctypes.data)
