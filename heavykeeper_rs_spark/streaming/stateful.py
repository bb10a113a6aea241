"""Fault-tolerant stateful streaming sketches via applyInPandasWithState.

streaming/topk_stream.py holds the accumulator on the driver
(foreachBatch) — simple, but driver-lifetime state. This module keeps
the sketch in Spark's *state store* instead: keys are salted into
``n_shards`` groups, each shard owns a serialized HeavyKeeper in
GroupState, and every trigger folds the shard's new rows into it. The
state survives query restarts from the checkpoint — the streaming
analog of plans/checkpoint.py.

Output per trigger: one row per shard with the shard's current
serialized sketch (downstream consumers merge the <= n_shards blobs —
same merge the batch path uses). Event-time timeout is left to the
caller (sketches are monotone summaries; eviction happens inside the
sketch, not by dropping state).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..kernel import HeavyKeeper, HKParams
from ..operators import combine
from ..variants import deserialize_any

_OUT_SCHEMA = StructType(
    [
        StructField("shard", IntegerType(), False),
        StructField("rows_seen", LongType(), False),
        StructField("sketch", BinaryType(), False),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("rows_seen", LongType(), True),
        StructField("sketch", BinaryType(), True),
    ]
)


def _feed_rows(sk, pdfs: Iterator[pd.DataFrame], weighted: bool) -> int:
    """Feed a state group's new rows (``__key`` and, when weighted,
    ``__w``) into its sketch; returns the number of rows actually fed
    (null keys or weights are skipped)."""
    fed = 0
    for pdf in pdfs:
        keys = pdf["__key"].to_numpy()
        ok = pd.notna(keys)
        if weighted:
            wv = pdf["__w"].to_numpy()
            ok &= pd.notna(wv)
            sk.add_batch(keys[ok], np.asarray(wv[ok], dtype=np.float64))
        else:
            sk.add_batch(keys[ok])
        fed += int(ok.sum())
    return fed


def stateful_topk_stream(
    stream_df: DataFrame,
    col: str,
    params: HKParams,
    n_shards: int = 8,
    variant: str = "topk",
    weight_col: str | None = None,
) -> DataFrame:
    """Transform a streaming DataFrame into per-shard sketch updates.

    Write with update output mode; merge the latest blob per shard to
    read the global top-K at any point. ``variant`` selects the sketch
    layout ('topk' canonical, 'bucketed', 'cuckoo') — the shard blobs
    carry the variant magic, so consumers merge via
    ``variants.deserialize_any``. ``weight_col`` feeds weighted adds
    (bytes-per-flow style streams).
    """
    from ..operators.topk import VARIANTS, _make_sketch

    if variant not in VARIANTS:
        raise ValueError(f"unknown variant {variant!r}; one of {sorted(VARIANTS)}")
    weighted = weight_col is not None

    def fold(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        shard = int(key[0])
        if state.exists:
            rows_seen, blob = state.get
            sk = VARIANTS[variant].deserialize(blob)  # refuses another layout
        else:
            rows_seen = 0
            sk = _make_sketch(
                variant,
                params,
                np.random.default_rng(
                    np.random.PCG64((params.seed << 9) ^ shard)
                ),
            )
        rows_seen += _feed_rows(sk, pdfs, weighted)
        blob = sk.serialize()
        state.update((rows_seen, blob))
        yield pd.DataFrame(
            {"shard": [shard], "rows_seen": [rows_seen], "sketch": [blob]}
        )

    cols = [
        (F.xxhash64(F.col(col).cast("string")) % n_shards)
        .cast("int")
        .alias("__shard"),
        F.col(col).cast("string").alias("__key"),
    ]
    if weighted:
        cols.append(F.col(weight_col).cast("double").alias("__w"))
    keyed = stream_df.select(*cols).withColumn("__shard", F.abs(F.col("__shard")))
    return keyed.groupBy("__shard").applyInPandasWithState(
        fold,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: windowed variant output: window_start is epoch seconds; final is
#: 0 (running update) or 1 (watermark-closed, state removed)
_WOUT_SCHEMA = StructType(
    [
        StructField("window_start", LongType(), False),
        StructField("shard", IntegerType(), False),
        StructField("rows_seen", LongType(), False),
        StructField("final", IntegerType(), False),
        StructField("sketch", BinaryType(), False),
    ]
)


def stateful_windowed_topk_stream(
    stream_df: DataFrame,
    col: str,
    ts_col: str,
    params: HKParams,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    n_shards: int = 4,
    variant: str = "topk",
    slide: str | None = None,
) -> DataFrame:
    """Per-event-time-window HeavyKeeper sketches with late-data
    handling — the variant-threaded specialization of
    ``stateful_windowed_sketch_stream``. ``variant`` selects the
    sketch layout; blobs carry the magic, so ``merge_window_blobs``
    folds any of them. ``slide`` < window makes the windows sliding."""
    from ..operators.topk import VARIANTS, _make_sketch

    if variant not in VARIANTS:
        raise ValueError(f"unknown variant {variant!r}; one of {sorted(VARIANTS)}")

    def make(wstart: int, shard: int):
        return _make_sketch(
            variant,
            params,
            np.random.default_rng(
                np.random.PCG64((params.seed << 9) ^ (wstart * 31 + shard))
            ),
        )

    return stateful_windowed_sketch_stream(
        stream_df,
        col,
        ts_col,
        make,
        window=window,
        watermark=watermark,
        n_shards=n_shards,
        slide=slide,
    )


def stateful_windowed_sketch_stream(
    stream_df: DataFrame,
    col: str,
    ts_col: str,
    make,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    n_shards: int = 4,
    slide: str | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-event-time-window sketches with late-data handling, for ANY
    mergeable sketch (HeavyKeeper variants, HLL, CMS, Bloom, ...).
    ``weight_col`` feeds weighted adds (bytes-per-flow style streams)
    to sketches whose ``add_batch`` accepts weights.

    ``make(window_start, shard)`` builds a fresh sketch for a state
    group; the magic-sniffing ``variants.deserialize_any`` revives one.
    Keys are (window_start, shard); each group owns one serialized
    sketch in the state store.
    Rows later than ``watermark`` are dropped by Spark's watermark;
    when the watermark passes a window's end, the group's
    EventTimeTimeout fires and the state emits one last row with
    final=1 and is removed — the streaming analog of the batch
    ``sketch_by_group`` over ``date_trunc`` windows, with bounded
    state (open windows × shards blobs).

    ``slide`` (< window) turns the tumbling windows into SLIDING ones:
    Catalyst's TimeWindowing rule expands each event into its
    window/slide containing windows before the stateful operator, so
    each (overlapping) window still owns an independent state group
    and finalizes on its own end. State grows by the overlap factor —
    size the watermark accordingly.
    """

    def fold(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wstart, shard = int(key[0]), int(key[1])

        def emit(rows_seen: int, final: int, blob: bytes) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "window_start": [wstart],
                    "shard": [shard],
                    "rows_seen": [rows_seen],
                    "final": [final],
                    "sketch": [blob],
                }
            )

        if state.hasTimedOut:
            rows_seen, blob = state.get
            state.remove()
            yield emit(rows_seen, 1, blob)
            return
        if state.exists:
            rows_seen, blob = state.get
            sk = deserialize_any(blob)
        else:
            rows_seen = 0
            sk = make(wstart, shard)
        rows_seen += _feed_rows(sk, pdfs, weighted)
        blob = sk.serialize()
        end_ms = int(key[2]) * 1000
        # arbitrary-stateful ops don't auto-drop late input: if the
        # watermark already passed this window's end (stragglers within
        # the allowed lateness arriving out of order), finalize now —
        # a timeout in the past cannot be registered
        if end_ms <= state.getCurrentWatermarkMs():
            if state.exists:
                state.remove()
            yield emit(rows_seen, 1, blob)
            return
        state.update((rows_seen, blob))
        # finalize when the event-time watermark passes the window end
        state.setTimeoutTimestamp(end_ms)
        yield emit(rows_seen, 0, blob)

    weighted = weight_col is not None
    cols = [
        F.unix_timestamp(
            F.window("__ts", window, slide or window).getField("start")
        ).alias("__wstart"),
        (F.abs(F.xxhash64(F.col(col).cast("string"))) % n_shards)
        .cast("int")
        .alias("__shard"),
        F.unix_timestamp(
            F.window("__ts", window, slide or window).getField("end")
        ).alias("__wend"),
        F.col(col).cast("string").alias("__key"),
        # the watermark-tagged event-time column must survive the
        # projection for EventTimeTimeout to be allowed
        F.col("__ts").alias("__evt"),
    ]
    if weighted:
        cols.append(F.col(weight_col).cast("double").alias("__w"))
    keyed = (
        stream_df.withColumn("__ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("__ts", watermark)
        .select(*cols)
    )
    return keyed.groupBy("__wstart", "__shard", "__wend").applyInPandasWithState(
        fold,
        outputStructType=_WOUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _select_lives(rows: list) -> "dict[tuple[int, int], list[tuple[int, bytes]]]":
    """The windowed-stream consumer contract in one place: per
    (window, shard) take every final=1 row (each closes a disjoint
    state life — stragglers after a finalization start a new life that
    always ends in its own immediate final) plus, when a shard never
    finalized (the stream ended before the watermark passed the window
    end), its largest-rows_seen update row (updates are cumulative
    within a life). Returns the selected (rows_seen, blob) per key —
    ``merge_window_blobs`` folds the blobs, ``window_rows_seen`` sums
    the counts; both MUST select identically, which is why this is
    shared."""
    finals: dict[tuple[int, int], list[tuple[int, bytes]]] = {}
    best_update: dict[tuple[int, int], tuple[int, bytes]] = {}
    for r in rows:
        k = (int(r["window_start"]), int(r["shard"]))
        if int(r["final"]) == 1:
            finals.setdefault(k, []).append((int(r["rows_seen"]), r["sketch"]))
        else:
            seen = int(r["rows_seen"])
            if k not in best_update or seen > best_update[k][0]:
                best_update[k] = (seen, r["sketch"])
    out: dict[tuple[int, int], list[tuple[int, bytes]]] = {}
    for k in set(finals) | set(best_update):
        out[k] = finals.get(k) or [best_update[k]]
    return out


def window_rows_seen(rows: list) -> int:
    """Total rows the stream actually FED across all windows/shards —
    finals' cumulative counts summed per life plus the best update of
    never-finalized shards. Compared against the exact kept-row count
    in the late-data gate (rows dropped by the watermark never reach
    the fold, so they are absent here by construction)."""
    return sum(
        seen for lives in _select_lives(rows).values() for seen, _ in lives
    )


def merge_window_blobs(rows: list) -> dict[int, "HeavyKeeper"]:
    """Fold windowed-stream output rows into one sketch per window —
    the blob selection is ``_select_lives`` (see its docstring for the
    consumer contract). The magic-sniffing registry
    (``variants.deserialize_any``) decodes every built-in family."""
    per_window: dict[int, list[bytes]] = {}
    for k, lives in _select_lives(rows).items():
        per_window.setdefault(k[0], []).extend(b for _, b in lives)
    return {w: deserialize_any(combine.merge(blobs)) for w, blobs in per_window.items()}


def merge_shard_blobs(rows: list):
    """Merge the latest blob per shard into one sketch (driver-side).
    Variant-agnostic: the blob magic selects the layout."""
    latest: dict[int, bytes] = {}
    for r in rows:
        latest[r["shard"]] = r["sketch"]
    return combine.fold(list(latest.values()))
