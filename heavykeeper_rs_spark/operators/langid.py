"""Vectorized language-ID over a documents table.

Semantically identical to the JVM expression pair
``functions.text.lang_scores`` / ``lang_from_scores`` (argmax of
per-family stopword hit counts over the ``[a-z]+``/len<=64 tokenizer,
earlier family wins ties, 'und' when no hit) — but computed off the
Arrow string buffers with NumPy instead of a per-token ``aggregate``
fold of array built-ins. The JVM fold allocates two transient arrays
per token per row; at ~70 us/doc it was the most expensive scan in the
suite (guide §4.2: hand whole batches to vectorized native code). Here
tokens come from the shared ``native.ascii_tokens`` tokenizer (the same
one the in-kernel token top-K is oracle-pinned on), candidate tokens
(<= 5 bytes — the longest family word) are case-folded and packed into
uint64 lanes and matched against the 26 family words with exact byte
equality: no hashing, no collisions, bit-identical scores to the JVM
path.

Non-ASCII batches fall back to a per-document Python replay of the
exact oracle semantics (``re.findall('[a-z]+', text.lower())``), so
mixed corpora stay correct; the synthetic corpus and any ASCII web
text take the vector lane.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.text import _LANG_FAMS, MAX_TOKEN_LEN
from ..kernel import arrow_string_buffers
from ..native import ascii_tokens
from .scan import fan_out


def _pack_word(w: bytes) -> int:
    v = 0
    for i, b in enumerate(w):
        v |= b << (8 * i)
    return v


_LANGS = list(_LANG_FAMS)  # family order IS the tie priority
_MAX_WORD = max(len(w) for ws in _LANG_FAMS.values() for w in ws)
_FAM_PACKED = [
    np.asarray([_pack_word(w.encode()) for w in ws], dtype=np.uint64)
    for ws in _LANG_FAMS.values()
]
assert _MAX_WORD <= 8, "packed-uint64 matching requires family words <= 8 bytes"

_OUT_SCHEMA = StructType(
    [StructField("lid", StringType(), False), StructField("n", LongType(), False)]
)


def _classify_ascii(offsets: np.ndarray, data: np.ndarray) -> np.ndarray | None:
    """Per-doc family index (len(_LANGS) == 'und') for one batch, or
    None when a document holds a non-ASCII byte."""
    # only tokens short enough to BE a family word can score; the
    # tokenizer's 64-byte cap never excludes one of these
    toks = ascii_tokens(offsets, data, _MAX_WORD, 0)
    if toks is None:
        return None
    _, s, l = toks
    ndocs = offsets.shape[0] - 1
    scores = np.zeros((ndocs, len(_LANGS)), dtype=np.int64)
    if s.size:
        # little-endian pack of the case-folded token bytes; positions
        # past a token's end contribute 0 (and may clamp at the buffer)
        packed = np.zeros(s.shape[0], dtype=np.uint64)
        for j in range(_MAX_WORD):
            b = data[np.minimum(s + j, data.size - 1)] | 0x20
            packed |= (b * (l > j)).astype(np.uint64) << np.uint64(8 * j)
        doc_idx = np.searchsorted(offsets, s, side="right") - 1
        for fi, words in enumerate(_FAM_PACKED):
            m = packed == words[0]
            for wv in words[1:]:
                m |= packed == wv
            scores[:, fi] = np.bincount(doc_idx[m], minlength=ndocs)
    best = scores.max(axis=1)
    # np.argmax returns the FIRST maximum — exactly the "earlier family
    # wins ties" rule of lang_from_scores
    return np.where(best > 0, scores.argmax(axis=1), len(_LANGS))


def _classify_python(texts: list) -> np.ndarray:
    """Exact per-document replay of the JVM tokenizer + scoring for
    non-ASCII batches."""
    import re

    rex = re.compile("[a-z]+")
    fams = [set(ws) for ws in _LANG_FAMS.values()]
    out = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        toks = [x for x in rex.findall((t or "").lower()) if len(x) <= MAX_TOKEN_LEN]
        sc = [sum(tok in ws for tok in toks) for ws in fams]
        b = max(sc)
        out[i] = sc.index(b) if b > 0 else len(_LANGS)
    return out


def lang_id_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(lid, n) language histogram of ``df[text_col]`` — one vectorized
    pass per partition, per-batch partial counts (<= 5 rows each), one
    tiny shuffle for the final sum. Small single-row-group scans are
    fanned out first (``scan.fan_out``) so the classifier uses the
    whole machine."""
    names = _LANGS + ["und"]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        counts = np.zeros(len(names), dtype=np.int64)
        saw = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            saw = True
            col = batch.column(0)
            if col.null_count:
                col = pc.fill_null(col, "")
            lid = _classify_ascii(*arrow_string_buffers(col))
            if lid is None:
                lid = _classify_python(col.to_pylist())
            counts += np.bincount(lid, minlength=len(names))
        if saw:
            yield pa.RecordBatch.from_pydict(
                {
                    "lid": pa.array(names, type=pa.string()),
                    "n": pa.array(counts, type=pa.int64()),
                }
            )

    keyed = fan_out(df.select(F.col(text_col).cast("string").alias("__t")))
    partial = keyed.mapInArrow(kernel, _OUT_SCHEMA)
    return (
        partial.groupBy("lid")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") > 0)
        .orderBy("lid")
    )
