"""Generic distributed sketch aggregation.

One runner for the whole sketch family: partial build per partition
(``combine.sketch_partials``: a Python RDD on the direct reader, else
``mapInArrow``), salted combine (``groupBy(salt).applyInPandas``),
final merge on the driver. Identical plan shape to operators/topk.py —
the same partial stage and ``operators.combine`` tree; only the sketch
kernel differs. One keyed projection (``agg_keyed``) and one feed
(``_feed_values``) serve the ungrouped ``sketch_agg`` and every
``*_by_group`` operator, which runs the partial stage's grouped mode.
The shuffle carries only serialized sketch blobs (KiB-scale), never
rows, so the plan's network cost is O(partitions), independent of
input size: the property that makes this viable at 10^12 rows.

Also exposes DataFrame-level conveniences:
- hll_distinct(df, col)          -> float estimate
- cms_build(df, col, ...)        -> CountMin
- bloom_build(df, col, ...)      -> Bloom
- kll_build(df, col, ...)        -> KLL   (numeric column)
- tdigest_build(df, col, ...)    -> TDigest (numeric column)
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..sketches.bloom import Bloom
from ..sketches.cms import CountMin
from ..sketches.hll import HLL
from ..sketches.kll import KLL
from ..sketches.tdigest import TDigest
from . import combine
from .combine import sketch_partials, tree_fold


def _sketch_seed(sk) -> int:
    """Resolve a sketch's seed for per-partition RNG derivation.

    Sketches keep their seed either as an attribute (HLL, CMS, Bloom,
    KLL) or on ``params`` (HeavyKeeper family); some have none
    (TDigest). A duck-typed ``getattr(sk, 'seed', 0)`` would silently
    collapse the params-carried families to seed 0 and destroy the
    intended per-family seed separation."""
    s = getattr(sk, "seed", None)
    if s is None:
        s = getattr(getattr(sk, "params", None), "seed", None)
    return int(s) if s is not None else 0


def _seeded(sk, pid: int):
    """Give a sampling sketch (one with an ``rng``) its per-partition
    RNG, derived from the sketch's seed and the partition id."""
    if hasattr(sk, "rng"):
        sk.rng = np.random.default_rng(np.random.PCG64((_sketch_seed(sk) << 7) + pid))
    return sk


def agg_keyed(
    df: DataFrame,
    col: str,
    numeric: bool = False,
    weight_col: str | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """The keyed projection of the ``sketch_agg`` family: the group
    column when grouped, the values as ``__v`` (double when
    ``numeric``, else string) and the ``__w`` weight as double."""
    cols = [] if group_col is None else [combine.group_column(group_col)]
    cols.append(F.col(col).cast(DoubleType() if numeric else StringType()).alias("__v"))
    if weight_col is not None:
        cols.append(F.col(weight_col).cast(DoubleType()).alias("__w"))
    return df.select(*cols)


def _feed_values(sk, batches: Iterator[pa.RecordBatch]) -> None:
    """``sketch_partials`` feed of the ``sketch_agg`` family: column 0
    holds the values and an optional column 1 the weights; a row with
    a null value or weight is skipped."""
    for batch in batches:
        v = batch.column(0).to_numpy(zero_copy_only=False)
        if batch.num_columns > 1:
            w = batch.column(1).to_numpy(zero_copy_only=False)
            valid = pd.notna(v) & pd.notna(w)
            sk.add_batch(v[valid], np.asarray(w[valid], dtype=np.float64))
        else:
            valid = pd.notna(v)
            sk.add_batch(v[valid])


def sketch_agg(
    df: DataFrame,
    col: str,
    make: Callable[[], object],
    numeric: bool = False,
    weight_col: str | None = None,
    merge_groups: int = 64,
):
    """Fold df[col] into a mergeable sketch; returns the merged sketch.
    Blobs decode through the magic-sniffing registry
    (``variants.deserialize_any``), so ``make`` is all a family needs."""
    partials = sketch_partials(
        agg_keyed(df, col, numeric, weight_col),
        lambda pid: _seeded(make(), pid),
        _feed_values,
    )
    return tree_fold(partials, merge_groups, make)


# ---------------------------------------------------------------- wrappers

def hll_build(df: DataFrame, col: str, p: int = 14, seed: int = 12345, **kw) -> HLL:
    return sketch_agg(df, col, lambda: HLL(p, seed), **kw)


def hll_distinct(df: DataFrame, col: str, p: int = 14, seed: int = 12345, **kw) -> float:
    return hll_build(df, col, p, seed, **kw).estimate()


def cms_build(
    df: DataFrame, col: str, width: int = 2048, depth: int = 5, seed: int = 12345, **kw
) -> CountMin:
    return sketch_agg(df, col, lambda: CountMin(width, depth, seed), **kw)


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 7, seed: int = 12345, **kw
) -> Bloom:
    return sketch_agg(df, col, lambda: Bloom(m_bits, k, seed), **kw)


def kll_build(df: DataFrame, col: str, k: int = 200, seed: int = 12345, **kw) -> KLL:
    return sketch_agg(df, col, lambda: KLL(k, seed), numeric=True, **kw)


def tdigest_build(df: DataFrame, col: str, delta: float = 200.0, **kw) -> TDigest:
    return sketch_agg(df, col, lambda: TDigest(delta), numeric=True, **kw)


# ------------------------------------------------------- grouped variants

def _grouped_sketches(
    df: DataFrame,
    group_col: str,
    value_col: str,
    make: Callable[[], object],
    numeric: bool,
    finalize,
    out_field: StructField,
    fan_in: int,
    max_live_groups: int,
) -> DataFrame:
    """Grouped ``sketch_agg``: ``agg_keyed`` with the group column
    through the grouped partial stage (per-(partition, group) sketches,
    ``_feed_values``) and the per-group blob tree;
    ``finalize(group, blobs)`` emits the ``(group, out_field)`` result
    rows."""
    partials = sketch_partials(
        agg_keyed(df, value_col, numeric, group_col=group_col),
        lambda pid: _seeded(make(), pid),
        _feed_values,
        max_live_groups,
    )
    out_schema = StructType([StructField("group", StringType(), False), out_field])
    return combine.grouped_blob_tree(partials, fan_in, finalize, out_schema)


def sketch_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    make: Callable[[], object],
    finalize: Callable[[object], float],
    numeric: bool = False,
    out_col: str = "value",
    fan_in: int = 64,
    max_live_groups: int = 4096,
) -> DataFrame:
    """One sketch per group: (group, finalize(sketch)) — scale-safe.

    Partial sketches are built per (partition, group) by the grouped
    mode of ``sketch_agg``'s partial stage; the shuffle then carries
    only serialized blobs through a bounded-fan-in per-group merge tree
    (``combine.grouped_blob_tree``). No row crosses the network,
    so a Zipf-hot group costs each mapper bounded sketch memory rather
    than landing its full row set on one reducer.
    """
    def final(group: str, blobs: list[bytes]) -> pd.DataFrame:
        value = float(finalize(combine.fold(blobs)))
        return pd.DataFrame({"group": [group], out_col: [value]})

    return _grouped_sketches(
        df, group_col, value_col, make, numeric, final,
        StructField(out_col, DoubleType(), False), fan_in, max_live_groups,
    )


def hll_distinct_by_group(
    df: DataFrame, group_col: str, value_col: str, p: int = 14, seed: int = 12345
) -> DataFrame:
    """(group, n_distinct_est) — HLL per group."""
    return sketch_by_group(
        df,
        group_col,
        value_col,
        lambda: HLL(p, seed),
        lambda sk: sk.estimate(),
        out_col="n_distinct_est",
    )


def tdigest_quantile_by_group(
    df: DataFrame, group_col: str, value_col: str, q: float, delta: float = 200.0
) -> DataFrame:
    """(group, qXX) — t-digest quantile per group."""
    return sketch_by_group(
        df,
        group_col,
        value_col,
        lambda: TDigest(delta),
        lambda sk: float(sk.quantile(q)[0]),
        numeric=True,
        out_col="quantile_est",
    )

def sketch_blobs_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    make: Callable[[], object],
    numeric: bool = False,
    fan_in: int = 64,
    max_live_groups: int = 4096,
) -> DataFrame:
    """One MERGED sketch blob per group: (group string, sketch binary).

    Same scale-safe plan as ``sketch_by_group`` (per-(partition,group)
    partials, blob-only shuffle through a bounded-fan-in merge tree)
    but the finalize step returns the serialized sketch itself instead
    of a scalar — for callers that probe the per-group sketches with
    group-specific keys afterwards (grouped CMS point queries, grouped
    Bloom membership), or persist them as a sketch table for reuse.

    Blobs merge through the magic-sniffing registry
    (``variants.deserialize_any``), which decodes every built-in
    family.
    """
    def final(group: str, blobs: list[bytes]) -> pd.DataFrame:
        blob = combine.merge(blobs)
        return pd.DataFrame({"group": [group], "sketch": [blob]})

    return _grouped_sketches(
        df, group_col, value_col, make, numeric, final,
        StructField("sketch", BinaryType(), False), fan_in, max_live_groups,
    )


def cms_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    width: int = 2048,
    depth: int = 5,
    seed: int = 12345,
) -> DataFrame:
    """(group, serialized CountMin over value_col) — probe with
    ``CountMin.deserialize(blob).estimate(keys)``."""
    return sketch_blobs_by_group(
        df, group_col, value_col, lambda: CountMin(width, depth, seed)
    )


def bloom_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    m_bits: int = 1 << 20,
    k: int = 7,
    seed: int = 12345,
) -> DataFrame:
    """(group, serialized Bloom over value_col) — probe with
    ``Bloom.deserialize(blob).contains(keys)``."""
    return sketch_blobs_by_group(
        df, group_col, value_col, lambda: Bloom(m_bits, k, seed)
    )


def quantile_buckets(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    delta: float = 500.0,
    out_col: str = "bucket",
) -> tuple[DataFrame, list[float]]:
    """Assign each row an (approximately) equal-mass quantile bucket of
    ``value_col`` — the length-bucketing step batching/curriculum
    pipelines run over document lengths.

    One distributed t-digest pass computes the n_buckets-1 interior
    quantile boundaries (mergeable blobs, no row shuffle); assignment
    is then a pure-JVM CASE over the broadcast boundaries. Returns
    (df + bucket int column, boundaries). Buckets are 0-based;
    boundary ties go to the lower bucket (value <= boundary). Rows
    with NULL ``value_col`` get a NULL bucket (they are unmeasurable,
    not "largest" — the naive CASE would fall through every
    ``v <= bound`` NULL comparison into the top bucket)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    td = tdigest_build(df, value_col, delta=delta)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = [float(td.quantile(q)[0]) for q in qs]
    v = F.col(value_col).cast(DoubleType())
    expr = None
    for i, bnd in enumerate(bounds):
        cond = v <= F.lit(bnd)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    expr = (
        F.lit(len(bounds)) if expr is None else expr.otherwise(len(bounds))
    ).cast("int")
    expr = F.when(v.isNotNull(), expr)
    return df.withColumn(out_col, expr), bounds

