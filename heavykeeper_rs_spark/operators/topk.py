"""Distributed HeavyKeeper top-K over a DataFrame column.

The reference's build → merge → list flow (examples/ip_files.rs +
src/heavykeeper.rs:406-457) re-expressed as a Spark two-phase
aggregate, exactly the shape of Catalyst's HashAggregateExec pair:

  partial:  per-partition sketch build in ``combine.sketch_partials``
            (Arrow batches → pre-aggregation → vectorized kernel);
            ``topk_by_group`` runs the same stage in its grouped mode,
            one sketch per (partition, group), with the same keyed
            projection (``topk_keyed``) and feed (``_feed_keys``)
  combine:  salted multi-level ``groupBy(salt).applyInPandas`` merge
            tree with bounded fan-in (``combine.blob_tree``) — the
            explicit skew control demanded by the north rule: no
            single reducer ever merges more than ``fan_in`` blobs
  final:    driver merges the ≤ fan_in surviving blobs and emits an
            ordered result DataFrame (per group, in
            ``combine.grouped_blob_tree``, for ``topk_by_group``)

Scale notes (100 TB / 1000-executor thinking):
- The shuffles move only sketch blobs (~KiB–MiB each), never row
  data. Input rows are consumed map-side.
- Column pruning: the partial stage reads ONLY the keyed projection
  (``topk_keyed``, with the group column when grouped, or
  ``token_keyed``). A plain parquet projection is
  read by the direct reader (``scan.direct_scan``: pyarrow in the
  worker, no JVM row→Arrow transfer; its tasks run as a Python RDD,
  and the merge levels read them as ``createDataFrame`` of that RDD,
  with no FileScan); any other plan keeps
  Spark's scan, whose ``ReadSchema`` in ``.explain`` names the one
  pruned column. ``tools/capture_plans.py`` states which reader each
  stage takes; PLANS.md captures the plans.
- Tree depth = ceil(log_fan_in(partitions)) is derived from the known
  partition count, so small jobs keep a single shuffle while 10^5
  partitions get ~5 levels of 8-way merges.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import HeavyKeeper, HKParams, arrow_string_buffers, hash_string_buffers
from ..variants import BucketedTopK, CuckooTopK
from . import combine
from .combine import partition_rng, sketch_partials, tree_fold

#: sketch-variant registry (README.md:48-51: all three expose one API)
VARIANTS = {
    "topk": HeavyKeeper,  # canonical depth-row layout
    "bucketed": BucketedTopK,
    "cuckoo": CuckooTopK,
}

#: Default candidate-pool floor for the DISTRIBUTED top-k operators.
#:
#: The final top-k is chosen from the UNION of the partials' priority
#: queues (cells carry only fingerprints, so an item no partial ever
#: admitted cannot be *named* at merge time). On a near-uniform domain
#: of D keys, a k-sized partial PQ is sampled almost uniformly from
#: the D keys, so a true top-k member survives P partitions with
#: probability ~ 1 - (1 - k/D)^P — at D=800, k=20, P=32 that loses
#: ~1 in 4 of the true top-20 (observed at the 100x rehearsal).
#: Tracking ``max(base, 256)`` candidates per partial (base = 2k with
#: tie_break_key, else k) drives the miss probability below 1e-5
#: there while costing only ~tens of KiB per
#: blob next to the MiB-scale cell arrays. ``candidates=`` overrides
#: the floor in either direction (e.g. huge grouped jobs where blob
#: count x PQ size dominates shuffle bytes). The kernel-level sketch
#: (``topk_sketch``, ``contains_top_k``) keeps the reference's exact
#: k-sized PQ semantics — the floor applies only to operators that
#: cut their result back to k rows.
_CANDIDATE_FLOOR = 256


def _track_k(k: int, tie_break_key: bool, candidates: int | None) -> int:
    """Partial-PQ size for a distributed top-``k`` (see
    ``_CANDIDATE_FLOOR``)."""
    base = 2 * k if tie_break_key else k
    return max(base, _CANDIDATE_FLOOR if candidates is None else int(candidates))


def local_result_df(spark: SparkSession, data: list, schema) -> DataFrame:
    """Tiny driver-side result list -> DataFrame via pandas/Arrow.

    ``createDataFrame(list_of_tuples)`` schedules a
    defaultParallelism-task Python-RDD job (~2s of worker round-trips
    on local[32]) even for 10 rows; the pandas path converts to Arrow
    on the driver and costs zero tasks."""
    from pyspark.sql.types import _parse_datatype_string

    st = schema
    if isinstance(st, str):
        st = _parse_datatype_string(st)
    pdf = pd.DataFrame(data, columns=[f.name for f in st.fields])
    return spark.createDataFrame(pdf, schema=st)


def _make_sketch(variant: str, params: HKParams, rng):
    if variant == "topk":
        return HeavyKeeper(params, rng=rng)
    cls = VARIANTS[variant]
    return cls(
        params.k, params.width, params.depth, params.decay, params.seed, rng=rng
    )


def _key_column(df: DataFrame, col: str):
    """The key-cast rule sketch build and probe share — they must agree,
    since the int64 lane and the string lane hash one value
    differently. Binary keys (13-byte flow records,
    examples/ip_files.rs:6) pass through untouched; integer keys stay
    int64 lanes end-to-end (the u64 fast path the reference benches);
    everything else becomes a UTF-8 string."""
    src_type = dict(df.dtypes).get(col)
    if src_type == "binary":
        return F.col(col)
    if src_type in ("bigint", "int", "smallint", "tinyint"):
        return F.col(col).cast(LongType())
    return F.col(col).cast(StringType())


def _feed_hashed(sk, col: pa.Array, w: np.ndarray | None, seed: int) -> None:
    """Feed a non-null Arrow string/binary column: every row hashed
    straight off its buffers (as ``hash_items`` hashes the same keys)
    into ``add_batch_hashed``."""
    offsets, data = arrow_string_buffers(col)
    sk.add_batch_hashed(
        hash_string_buffers(offsets, data, seed),
        w,
        lambda sel: np.asarray(col.take(pa.array(sel)).to_pylist(), dtype=object),
    )


# Kernel feed granularity: Spark hands mapInArrow 65536-row batches
# (session.py maxRecordsPerBatch). Each kernel pass collapses its batch
# to the distinct keys (``preaggregate``) before the add loop, and on
# Zipf input the distinct count grows sublinearly with the batch, so
# bigger feeds hand the add loop proportionally fewer items and pay the
# per-pass sort and heap offers less often (an earlier NumPy kernel
# measured 7.3 -> 11.7 -> 14.6 M keys/s on the reference fixture at 64k
# -> 256k -> 1M rows); the builder coalesces input batches to this many
# rows before each pass. An int64 key lane buffers 8 MB at this
# setting; the byte cap bounds task memory for long string keys.
_COALESCE_ROWS = 1048576
_COALESCE_BYTES = 128 << 20
_BYTE_TYPES = (pa.string(), pa.large_string(), pa.binary(), pa.large_binary())


def _feed_keys(weighted: bool, seed: int):
    """``sketch_partials`` feed of the key-column operators: drops null
    keys (and weights), coalesces batches to ``_COALESCE_ROWS`` and
    feeds each coalesced column through its lane."""

    def feed(sk, batches: Iterator[pa.RecordBatch]) -> None:
        kbuf: list[pa.Array] = []
        wbuf: list[np.ndarray] = []
        rows = 0
        nbytes = 0

        def flush() -> None:
            nonlocal kbuf, wbuf, rows, nbytes
            if not kbuf:
                return
            kcol = kbuf[0] if len(kbuf) == 1 else pa.concat_arrays(kbuf)
            w = None
            if weighted:
                w = wbuf[0] if len(wbuf) == 1 else np.concatenate(wbuf)
            if kcol.type in _BYTE_TYPES:
                _feed_hashed(sk, kcol, w, seed)
            else:  # int64 keys: the u64 lane
                sk.add_batch(kcol.to_numpy(zero_copy_only=False), w)
            kbuf, wbuf, rows, nbytes = [], [], 0, 0

        for batch in batches:
            if weighted:
                mask = pc.and_kleene(
                    batch.column(0).is_valid(), batch.column(1).is_valid()
                )
                fb = batch.filter(mask)
                if fb.num_rows == 0:
                    continue
                kbuf.append(fb.column(0))
                wbuf.append(
                    np.asarray(
                        fb.column(1).to_numpy(zero_copy_only=False),
                        dtype=np.float64,
                    )
                )
            else:
                col = batch.column(0)
                if col.null_count:
                    col = col.drop_null()
                if len(col) == 0:
                    continue
                kbuf.append(col)
            rows += len(kbuf[-1])
            nbytes += kbuf[-1].nbytes
            if rows >= _COALESCE_ROWS or nbytes >= _COALESCE_BYTES:
                flush()
        flush()

    return feed


def topk_partials(
    df: DataFrame,
    col: str,
    params: HKParams,
    weight_col: str | None = None,
    variant: str = "topk",
    group_col: str | None = None,
    max_live_groups: int = 4096,
) -> combine.Partials:
    """The partial stage of ``topk_sketch`` (and, with ``group_col``,
    of ``topk_by_group``): ``topk_keyed`` into one sketch per task, or
    per (task, group)."""
    return sketch_partials(
        topk_keyed(df, col, weight_col, group_col),
        lambda pid: _make_sketch(variant, params, partition_rng(params.seed, pid)),
        _feed_keys(weight_col is not None, params.seed),
        None if group_col is None else max_live_groups,
    )


def topk_keyed(
    df: DataFrame, col: str, weight_col: str | None = None, group_col: str | None = None
) -> DataFrame:
    """The keyed projection ``topk_partials`` reads: the group column
    when grouped, ``__key`` by the key rule, and the ``__w`` weight as
    bigint. Only these columns are read, by Spark's scan (column
    pruning) or by the direct reader."""
    cols = [] if group_col is None else [combine.group_column(group_col)]
    cols.append(_key_column(df, col).alias("__key"))
    if weight_col is not None:
        cols.append(F.col(weight_col).cast(LongType()).alias("__w"))
    return df.select(*cols)


def topk_sketch(
    df: DataFrame,
    col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    weight_col: str | None = None,
    merge_groups: int = 64,
    variant: str = "topk",
):
    """Build the merged top-K sketch for ``df[col]`` (driver-side
    result). This is the UDAF surface of the library (SURVEY §2.4).
    ``variant`` selects the layout: 'topk' (canonical), 'bucketed', or
    'cuckoo' — same API, different accuracy/throughput profile."""
    if variant not in VARIANTS:
        raise ValueError(f"unknown variant {variant!r}; one of {sorted(VARIANTS)}")
    params = HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed)
    partials = topk_partials(df, col, params, weight_col, variant)
    return tree_fold(partials, merge_groups, lambda: _make_sketch(variant, params, None))


def topk(
    df: DataFrame,
    col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    weight_col: str | None = None,
    merge_groups: int = 64,
    tie_break_key: bool = False,
    variant: str = "topk",
    candidates: int | None = None,
) -> DataFrame:
    """Top-K most frequent values of ``df[col]`` as a DataFrame
    ``(item string, count long)`` ordered by count desc.

    ``tie_break_key=True`` orders ties by item asc (instead of the
    reference's insertion-sequence rule, src/priority_queue.rs:204-207)
    — needed for deterministic comparison against SQL oracles. The
    sketch tracks ``max(2k, _CANDIDATE_FLOOR)`` candidates then cuts
    to k, so boundary ties resolve identically to ``ORDER BY count
    DESC, item LIMIT k`` whenever the sketch is exact in that regime
    AND the candidate pool survives the union-of-partial-PQs noise on
    flat domains (see ``_CANDIDATE_FLOOR``). ``candidates=`` pins the
    partial PQ size explicitly.
    """
    track = _track_k(k, tie_break_key, candidates)
    sk = topk_sketch(
        df, col, track, width, depth, decay, seed, weight_col, merge_groups, variant
    )
    return _result_df(df.sparkSession, sk, k, tie_break_key)


def _result_df(spark: SparkSession, sk, k: int, tie_break_key: bool) -> DataFrame:
    """The sketch's top ``k`` as an ``(item string, count long)``
    DataFrame, ordered by count desc."""
    schema = StructType(
        [StructField("item", StringType(), False), StructField("count", LongType(), False)]
    )
    return local_result_df(spark, _top_rows(sk, k, tie_break_key), schema)


def _top_rows(sk, k: int, tie_break_key: bool) -> list[tuple[str, int]]:
    """The sketch's top ``k`` as rendered ``(item, count)`` rows, count
    desc. With ``tie_break_key``, ties order by the RENDERED item: the
    output column is a string, and every SQL oracle orders it as
    VARCHAR. For str/bytes keys that is their byte order (UTF-8 keeps
    code-point order); for the int64 lane it puts "10" before "9", as
    the oracle does, instead of 9 before 10."""
    rows = sk.list()
    if tie_break_key:
        rows = sorted(rows, key=lambda t: (-t[1], _item_str(t[0])))
    return [(_item_str(item), int(c)) for item, c in rows[:k]]


def _item_str(item) -> str:
    if isinstance(item, bytes):
        return item.decode("utf-8", errors="replace")
    return str(item)


def _feed_tokens_arrow(sk, col, max_token_len: int, seed: int) -> bool:
    """Object-free token feed: ``native.token_counts`` tokenizes,
    hashes and counts the batch's tokens in one C pass over the Arrow
    buffers, keeping only the distinct ones, and their hashes go into
    ``add_batch_hashed`` weighted by their counts; only tokens entering
    the top-K queue are ever lowered into Python bytes (from their
    first occurrence). The blob equals that of feeding every
    occurrence's hash with no weights. Returns False (caller falls back
    to the regex/str path) when a document holds any non-ASCII byte —
    exotic case folding ('K'→'k') then differs from the byte fold, so
    the exact str semantics take over."""
    from ..native import token_counts

    if col.null_count:
        col = pc.fill_null(col, "")
    offsets, data = arrow_string_buffers(col)
    toks = token_counts(offsets, data, max_token_len, seed)
    if toks is None:
        return False
    hashes, starts, lens, counts = toks

    def key_take(sel: np.ndarray) -> np.ndarray:
        return np.asarray(
            [data[s : s + l].tobytes().lower() for s, l in zip(starts[sel], lens[sel])],
            dtype=object,
        )

    sk.add_batch_hashed(hashes, counts, key_take)
    return True


def _feed(sk, rex, chunk: list[str], max_token_len: int) -> None:
    """The regex fallback of ``_feed_text``: the tokens of ``chunk``
    no longer than ``max_token_len`` code points as one Arrow string
    array, fed through ``_feed_hashed``."""
    toks = pa.array(rex.findall("\n".join(chunk).lower()), type=pa.string())
    if max_token_len:
        toks = toks.filter(pc.less_equal(pc.utf8_length(toks), max_token_len))
    if len(toks):
        _feed_hashed(sk, toks, None, sk.params.seed)


def _feed_text(sk, col: pa.Array, rex: re.Pattern, max_token_len: int, seed: int) -> None:
    """Tokenize one Arrow text column into the sketch. The default
    ``[a-z]+`` pattern takes the object-free Arrow path; non-ASCII
    batches or a custom pattern fall back to the chunked C-level regex
    pass."""
    if rex.pattern == "[a-z]+" and _feed_tokens_arrow(sk, col, max_token_len, seed):
        return
    # chunked join: one C-level regex pass per ~4 MB of text — NOT one
    # batch-wide string (64k multi-KB docs would build a transient
    # multi-hundred-MB str)
    chunk: list[str] = []
    size = 0
    for t in col.to_numpy(zero_copy_only=False):
        if t is None:
            continue
        chunk.append(t)
        size += len(t)
        if size < (4 << 20):
            continue
        _feed(sk, rex, chunk, max_token_len)
        chunk, size = [], 0
    if chunk:
        _feed(sk, rex, chunk, max_token_len)


def _feed_tokens(token_re: str, max_token_len: int, seed: int):
    """``sketch_partials`` feed of the token operators: every batch's
    text column through ``_feed_text``."""
    rex = re.compile(token_re)

    def feed(sk, batches: Iterator[pa.RecordBatch]) -> None:
        for batch in batches:
            _feed_text(sk, batch.column(0), rex, max_token_len, seed)

    return feed


def token_partials(
    df: DataFrame,
    text_col: str,
    params: HKParams,
    token_re: str = "[a-z]+",
    max_token_len: int = 64,
) -> combine.Partials:
    """The partial stage of ``topk_tokens``: ``token_keyed`` straight
    into one in-kernel-tokenizing sketch per task."""
    return sketch_partials(
        token_keyed(df, text_col),
        lambda pid: HeavyKeeper(params, rng=partition_rng(params.seed, pid)),
        _feed_tokens(token_re, max_token_len, params.seed),
    )


def token_keyed(df: DataFrame, text_col: str) -> DataFrame:
    """The projection ``token_partials`` reads: the text as ``__text``."""
    return df.select(F.col(text_col).cast(StringType()).alias("__text"))


def topk_tokens(
    df: DataFrame,
    text_col: str,
    k: int,
    width: int = 65536,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    token_re: str = "[a-z]+",
    max_token_len: int = 64,
    merge_groups: int = 64,
    tie_break_key: bool = False,
    candidates: int | None = None,
) -> DataFrame:
    """Top-K tokens with tokenization INSIDE the sketch kernel.

    The word_count example (examples/word_count.rs:131-165) at corpus
    scale: rather than explode()-ing a 40x token blowup through the
    JVM->Python Arrow channel, each batch is tokenized and hashed in
    one C pass over the Arrow byte buffers (``_feed_tokens_arrow`` →
    ``native.token_counts`` — zero Python token objects; the batch's
    distinct token hashes, weighted by their counts, feed
    ``add_batch_hashed``). Non-ASCII batches or a custom
    ``token_re`` fall back to the chunked C-level regex pass. No
    explode, no shuffle of tokens — the only network traffic is sketch
    blobs.
    """
    params = HKParams(
        k=_track_k(k, tie_break_key, candidates),
        width=width, depth=depth, decay=decay, seed=seed,
    )
    partials = token_partials(df, text_col, params, token_re, max_token_len)
    sk = tree_fold(partials, merge_groups, lambda: HeavyKeeper(params))
    return _result_df(df.sparkSession, sk, k, tie_break_key)


def topk_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    tie_break_key: bool = True,
    fan_in: int = 64,
    max_live_groups: int = 4096,
    weight_col: str | None = None,
    variant: str = "topk",
    candidates: int | None = None,
) -> DataFrame:
    """Top-K keys within each group — one sketch per group, built
    scale-safe: the grouped mode of ``topk``'s partial stage
    (``topk_partials`` with ``group_col``: the same key rule, feed and
    reader, one sketch per (partition, group) map-side), then a
    bounded-fan-in blob merge tree per group
    (``combine.grouped_blob_tree``).

    SURVEY §2.4: the reference has no grouping sets; multi-dimension
    top-K is done by running the sketch per group key. No row ever
    crosses the network: a Zipf-hot group is absorbed by each mapper's
    bounded sketch memory and its partials merge through the tree.
    Output is (group, item, count) with deterministic
    (count desc, item asc) tie-breaking.

    ``weight_col`` makes the per-group add weighted — the reference's
    first-class weighted add (src/heavykeeper.rs:273-279) in the
    grouped plan: top items by SUM(weight) within each group.
    ``variant`` selects the sketch layout per group ('topk' canonical,
    'bucketed', 'cuckoo') — the same registry as the ungrouped path.
    """
    if variant not in VARIANTS:
        raise ValueError(f"unknown variant {variant!r}; one of {sorted(VARIANTS)}")
    params = HKParams(
        k=_track_k(k, tie_break_key, candidates),
        width=width, depth=depth, decay=decay, seed=seed,
    )
    out_schema = StructType(
        [
            StructField("group", StringType(), False),
            StructField("item", StringType(), False),
            StructField("count", LongType(), False),
        ]
    )

    def finalize(group: str, blobs: list[bytes]) -> pd.DataFrame:
        rows = _top_rows(combine.fold(blobs), k, tie_break_key)
        return pd.DataFrame(
            {
                "group": [group] * len(rows),
                "item": [it for it, _ in rows],
                "count": [c for _, c in rows],
            }
        )

    partials = topk_partials(df, key_col, params, weight_col, variant, group_col, max_live_groups)
    return combine.grouped_blob_tree(partials, fan_in, finalize, out_schema)


def contains_top_k(df: DataFrame, col: str, sketch) -> DataFrame:
    """O11 (src/heavykeeper.rs:211-218) distributedly: semi-join the
    DataFrame against the sketch's tracked top-K set (broadcast).
    Works for every layout — all three variants expose list().

    Integer-keyed sketches (the u64 fast path) track Python ints in the
    PQ; ``_item_str`` normalizes both representations so the string
    compare matches the cast column."""
    items = [_item_str(it) for it, _ in sketch.list()]
    return df.filter(F.col(col).cast(StringType()).isin(items))


def probe_distinct(col: pa.Array, probe, dtype) -> np.ndarray:
    """``probe(distinct values of col)`` scattered back to every row:
    one dictionary-encode pass (C), each distinct value probed once,
    and a null row gets ``dtype``'s zero. The per-batch loop of every
    broadcast probe (``estimate``, ``joins.bloom_prefilter``)."""
    d = pc.dictionary_encode(col)
    idx = d.indices.to_numpy(zero_copy_only=False)  # float with NaN on null
    out = np.zeros(len(col), dtype=dtype)
    valid = pd.notna(idx)
    if valid.any():
        uniq = d.dictionary.to_numpy(zero_copy_only=False)
        out[valid] = probe(uniq)[idx[valid].astype(np.int64)]
    return out


def estimate(
    df: DataFrame, col: str, sketch, out_col: str = "est_count"
) -> DataFrame:
    """Broadcast-probe point estimates: the distributed analog of
    count(item), for EVERY sketch layout — the reference exposes
    count() on all three (src/heavykeeper.rs:220-246,
    src/bucketed.rs:260-269, src/cuckoo.rs:280-289). The serialized
    sketch is broadcast once; each Arrow batch probes it vectorized —
    the same plan shape as a broadcast-hash-join against the summary.
    The variant is sniffed from the blob magic, so a sketch built with
    variant='bucketed' or 'cuckoo' probes identically. The probe column
    is cast by ``topk_sketch``'s key rule, so an integer-keyed sketch
    is probed on its int64 lane. The probe column must therefore have
    the build column's key type: a string-built sketch probed with an
    integer column (or the reverse) hashes every key on the other lane
    and estimates 0 — cast the probe column to the build type first."""
    from ..variants import deserialize_any

    blob = sketch.serialize()
    bc = df.sparkSession.sparkContext.broadcast(blob)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, LongType(), True)]
    )

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = deserialize_any(bc.value)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            est = probe_distinct(batch.column("__probe_key"), sk.estimate, np.int64)
            yield batch.drop_columns(["__probe_key"]).append_column(
                out_col, pa.array(est, type=pa.int64())
            )

    withkey = df.withColumn("__probe_key", _key_column(df, col))
    return withkey.mapInArrow(probe, out_schema)


def topk_by_grouping_sets(
    df: DataFrame,
    grouping_sets: list[list[str]],
    key_col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    tie_break_key: bool = True,
    fan_in: int = 64,
    max_live_groups: int = 4096,
    weight_col: str | None = None,
    variant: str = "topk",
    candidates: int | None = None,
) -> DataFrame:
    """Sketch top-K over GROUPING SETS: one HeavyKeeper per group per
    grouping set, output (grouping, group, item, count).

    The relational ROLLUP/CUBE pattern composed from per-group
    sketches. Spark's native grouping sets run one Expand operator
    that DUPLICATES every input row per set — fine for cheap exact
    aggregates, hostile at 10^12 rows. Here each set is an independent
    blob-tree pass (``topk_by_group``): rows are consumed map-side per
    pass and only KiB-scale blobs shuffle, so s sets cost s scans and
    zero row shuffles (scans are cheap — column-pruned parquet;
    cache/persist the projected input to pay one). ``grouping`` is the
    comma-joined column list ('()' for the grand total); ``group``
    joins the set's values with '|'.

    ``topk_rollup`` / ``topk_cube`` derive the set lists.
    """
    opts = dict(
        k=k, width=width, depth=depth, decay=decay, seed=seed,
        tie_break_key=tie_break_key, fan_in=fan_in,
        max_live_groups=max_live_groups, weight_col=weight_col,
        variant=variant, candidates=candidates,
    )
    outs = []
    for cols in grouping_sets:
        label = ",".join(cols) if cols else "()"
        if cols:
            gexpr = F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(c).cast(StringType()), F.lit("None"))
                    for c in cols
                ],
            )
            part = topk_by_group(
                df.withColumn("__gset", gexpr), "__gset", key_col, **opts
            )
        else:
            base = topk(
                df, key_col, k, width=width, depth=depth, decay=decay,
                seed=seed, weight_col=weight_col, merge_groups=fan_in,
                tie_break_key=tie_break_key, variant=variant,
                candidates=candidates,
            )
            part = base.select(
                F.lit("()").alias("group"), F.col("item"), F.col("count")
            )
        outs.append(part.select(F.lit(label).alias("grouping"), "group", "item", "count"))
    out = outs[0]
    for p_ in outs[1:]:
        out = out.unionByName(p_)
    return out


def topk_rollup(
    df: DataFrame, group_cols: list[str], key_col: str, k: int, **opts
) -> DataFrame:
    """ROLLUP(group_cols): grouping sets = every prefix incl. the
    grand total — hierarchical per-level top-K in one call."""
    sets = [group_cols[:i] for i in range(len(group_cols), -1, -1)]
    return topk_by_grouping_sets(df, sets, key_col, k, **opts)


def topk_cube(
    df: DataFrame, group_cols: list[str], key_col: str, k: int, **opts
) -> DataFrame:
    """CUBE(group_cols): grouping sets = all 2^n subsets."""
    from itertools import combinations

    sets: list[list[str]] = []
    for r in range(len(group_cols), -1, -1):
        for combo in combinations(group_cols, r):
            sets.append(list(combo))
    return topk_by_grouping_sets(df, sets, key_col, k, **opts)

def build_vocab(
    df: DataFrame,
    text_col: str,
    v_size: int,
    width: int = 1 << 20,
    depth: int = 4,
    seed: int = 12345,
    token_re: str = "[a-z]+",
    max_token_len: int = 64,
) -> tuple[DataFrame, float]:
    """Frequency vocabulary for tokenizer training: (vocab DataFrame
    ``(item, count, rank)``, coverage) where coverage is the fraction
    of all token OCCURRENCES the top-``v_size`` vocabulary explains
    (1 - OOV rate).

    Built from the in-kernel token sketch (one pass, blob-only
    shuffle) plus one JVM-side total-occurrence count — in the exact
    regime (width*depth >> distinct tokens, the correct sizing for a
    vocab job) both the vocabulary and the coverage are exact.
    """
    vocab = topk_tokens(
        df, text_col, k=v_size, width=width, depth=depth, seed=seed,
        token_re=token_re, max_token_len=max_token_len, tie_break_key=True,
    )
    toks = F.filter(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(token_re), 0),
        lambda t: F.length(t) <= max_token_len,
    )
    total = (
        df.select(F.size(toks).alias("n")).agg(F.sum("n")).collect()[0][0] or 0
    )
    from pyspark.sql import Window as _W

    ranked = vocab.withColumn(
        "rank", F.row_number().over(_W.orderBy(F.desc("count"), "item"))
    )
    covered = vocab.agg(F.sum("count")).collect()[0][0] or 0
    coverage = float(covered) / float(total) if total else 0.0
    return ranked, coverage

