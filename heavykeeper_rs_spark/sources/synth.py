"""Deterministic synthetic data sources (FIXTURES.md F1/F2).

No external data: everything derives from seeded NumPy generators run
*distributed* — ``spark.range(n)`` partitions map to independent
``PCG64(seed + partition)`` streams inside ``mapInArrow``, so the same
(seed, n) always yields the same table regardless of parallelism
(row content is a pure function of doc_id), matching the reference's
seeded test-data generators (data/generate.py, tests/accuracy_compare.rs:29-41).

The webtext table has the exact BASELINE.json input_hint shape:
(url string, warc_ts timestamp, html binary, text string, lang string).
``html`` is a deterministic wrapper of ``text`` so extraction is
byte-exact invertible — the per-row invariant pytest checks.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


@functools.lru_cache(maxsize=4)
def _vocab(size: int = 4096, seed: int = 1234) -> np.ndarray:
    """Fixed deterministic word vocabulary (lowercase alpha), cached
    per ``(size, seed)`` in the process: a reused Spark worker serves
    corpora of several seeds."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = []
    seen = set()
    while len(words) < size:
        ln = int(rng.integers(3, 9))
        w = "".join(rng.choice(letters, ln))
        if w not in seen:
            seen.add(w)
            words.append(w)
    words = np.asarray(words, dtype=object)
    words.setflags(write=False)  # cached: shared by every caller
    return words


_DOMAINS_N = 10_000
_LANGS = np.asarray(["en", "en", "en", "en", "de", "fr", "es", "und"], dtype=object)


def html_wrap_expr():
    """Spark Column: the canonical html encoding of text (invertible)."""
    from pyspark.sql import functions as F

    return F.encode(
        F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "UTF-8"
    )


def text_from_html_expr():
    """Spark Column: byte-exact inverse of html_wrap_expr."""
    from pyspark.sql import functions as F

    h = F.decode(F.col("html"), "UTF-8")
    return F.substring(h, 13, F.length(h) - 12 - 14)


def webtext(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    domain_s: float = 1.2,
    token_s: float = 1.1,
    tokens_per_doc: int = 40,
    partitions: int | None = None,
) -> DataFrame:
    """Generate the F1 webtext corpus distributed & deterministically."""
    vocab_seed = seed * 7 + 1
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        vocab = _vocab(4096, vocab_seed)
        for batch in batches:
            ids = batch.column(0).to_numpy()
            if ids.size == 0:
                continue
            # per-row determinism: rng seeded by block start; rows are a
            # pure function of doc_id because we sample exactly
            # (tokens_per_doc + 2) draws per doc in doc_id order from a
            # per-doc generator
            n = ids.size
            texts = np.empty(n, dtype=object)
            urls = np.empty(n, dtype=object)
            langs = np.empty(n, dtype=object)
            # vectorize: one generator per doc is slow; instead derive
            # all randomness from counter-based hashing of doc_id
            base = np.asarray(ids, dtype=np.uint64)

            def h(tag: int, lane: np.ndarray) -> np.ndarray:
                x = lane ^ np.uint64(
                    (seed * 0x9E3779B97F4A7C15 + tag) & 0xFFFFFFFFFFFFFFFF
                )
                with np.errstate(over="ignore"):
                    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                    return x ^ (x >> np.uint64(31))

            def uniform(tag: int, lane: np.ndarray) -> np.ndarray:
                return (h(tag, lane) >> np.uint64(11)).astype(np.float64) / float(1 << 53)

            # domain: Zipf(domain_s) over _DOMAINS_N via inverse CDF
            ranks = np.arange(1, _DOMAINS_N + 1, dtype=np.float64)
            cdf = np.cumsum(ranks**-domain_s)
            cdf /= cdf[-1]
            dom_rank = np.searchsorted(cdf, uniform(1, base), side="left")
            # token stream: Zipf(token_s) over vocab
            vr = np.arange(1, vocab.shape[0] + 1, dtype=np.float64)
            vcdf = np.cumsum(vr**-token_s)
            vcdf /= vcdf[-1]
            tok_idx = np.empty((n, tokens_per_doc), dtype=np.int64)
            for t in range(tokens_per_doc):
                tok_idx[:, t] = np.searchsorted(vcdf, uniform(100 + t, base), side="left")
            tok_words = vocab[tok_idx]
            texts[:] = [" ".join(row) for row in tok_words]
            urls[:] = [
                f"https://domain{int(d):05d}.example.com/page/{int(i)}"
                for d, i in zip(dom_rank, ids)
            ]
            langs[:] = _LANGS[(h(2, base) % np.uint64(len(_LANGS))).astype(np.int64)]
            ts = (1_600_000_000_000_000 + base.astype(np.int64) * 1_000_003).astype(
                "datetime64[us]"
            )
            htmls = np.asarray(
                [f"<html><body>{t}</body></html>".encode() for t in texts], dtype=object
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(urls, type=pa.string()),
                    pa.array(ts),
                    pa.array(htmls, type=pa.binary()),
                    pa.array(texts, type=pa.string()),
                    pa.array(langs, type=pa.string()),
                ],
                schema=schema,
            )

    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("url", StringType(), False),
            StructField("warc_ts", TimestampType(), False),
            StructField("html", BinaryType(), False),
            StructField("text", StringType(), False),
            StructField("lang", StringType(), False),
        ]
    )
    return rng_df.mapInArrow(gen, out_schema)


def flows(
    spark: SparkSession,
    n_packets: int,
    n_flows: int = 100_000,
    alpha: float = 2.0,
    seed: int = 7,
    partitions: int | None = None,
) -> DataFrame:
    """F4 fixture: 13-byte binary flow keys (src_ip(4) ‖ sport(2) ‖
    dst_ip(4) ‖ dport(2) ‖ proto(1)), power-law flow sizes — the
    analog of the reference's CAIDA-style traces
    (examples/ip_files.rs:6, data/generate.py:6-42). Deterministic
    per row id."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # flow universe derived deterministically from seed
        frng = np.random.default_rng(seed)
        flow_ids = frng.integers(0, 2**63, n_flows, dtype=np.int64)
        ranks = np.arange(1, n_flows + 1, dtype=np.float64)
        cdf = np.cumsum(ranks**-alpha)
        cdf /= cdf[-1]
        for batch in batches:
            ids = batch.column(0).to_numpy()
            if ids.size == 0:
                continue
            x = np.asarray(ids, dtype=np.uint64) ^ np.uint64(
                (seed * 0x9E3779B97F4A7C15 + 99) & 0xFFFFFFFFFFFFFFFF
            )
            with np.errstate(over="ignore"):
                x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                x = x ^ (x >> np.uint64(31))
            u = (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            fid = flow_ids[np.searchsorted(cdf, u, side="left")]
            # vectorized 13-byte key assembly (mirrors trace._emit_keys):
            # per row, with b = fid big-endian bytes —
            # src_ip(4)=b[0:4] | sport(2)=b[4:6] | dst_ip(4)=b[4:8] |
            # dport(2)=b[6:8] | proto(1)=TCP/UDP by fid parity
            bb = fid.astype(">i8").view(np.uint8).reshape(-1, 8)
            out = np.empty((len(fid), 13), dtype=np.uint8)
            out[:, 0:6] = bb[:, 0:6]
            out[:, 6:10] = bb[:, 4:8]
            out[:, 10:12] = bb[:, 6:8]
            out[:, 12] = np.where((fid & 1).astype(bool), 0x06, 0x11)
            offsets = pa.array(
                np.arange(0, (len(fid) + 1) * 13, 13, dtype=np.int32)
            )
            keys = pa.BinaryArray.from_buffers(
                pa.binary(), len(fid),
                [None, offsets.buffers()[1], pa.py_buffer(out.tobytes())],
            )
            yield pa.RecordBatch.from_arrays([keys], names=["flow_key"])

    rng_df = spark.range(
        0, n_packets, 1, partitions or spark.sparkContext.defaultParallelism
    )
    return rng_df.mapInArrow(
        gen, StructType([StructField("flow_key", BinaryType(), False)])
    )


def zipf_keys(
    spark: SparkSession,
    n_samples: int,
    s: float,
    n_universe: int = 1_000_000,
    seed: int = 0xACC04ACC,
    partitions: int | None = None,
) -> DataFrame:
    """F2 stream: seeded Zipf keys (mirror of tests/accuracy_compare.rs:13-41).

    Row i's key is a pure function of (seed, s, i): counter-based
    splitmix64 → uniform → inverse Zipf CDF. Identical table at any
    parallelism.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ranks = np.arange(1, n_universe + 1, dtype=np.float64)
        cdf = np.cumsum(ranks**-s)
        cdf /= cdf[-1]
        for batch in batches:
            ids = batch.column(0).to_numpy()
            if ids.size == 0:
                continue
            x = np.asarray(ids, dtype=np.uint64) ^ np.uint64(
                (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            )
            with np.errstate(over="ignore"):
                x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                x = x ^ (x >> np.uint64(31))
            u = (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)
            key = np.searchsorted(cdf, u, side="left").astype(np.int64)
            yield pa.RecordBatch.from_arrays([pa.array(key)], names=["key"])

    rng_df = spark.range(
        0, n_samples, 1, partitions or spark.sparkContext.defaultParallelism
    )
    return rng_df.mapInArrow(
        gen, StructType([StructField("key", LongType(), False)])
    )
