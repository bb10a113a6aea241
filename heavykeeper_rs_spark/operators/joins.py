"""Sketch-accelerated join pruning.

``bloom_prefilter``: the classic map-side Bloom semi-join. Build a
Bloom filter over the small side's join key (distributed, mergeable —
``operators.agg.bloom_build``), broadcast the bits once, and drop
fact-side rows whose key cannot be in the set BEFORE any
shuffle/join. Guarantees:

- NO false negatives: the output is a superset of the exact semi-join
  (a Bloom filter never reports an inserted key absent), so a real
  join placed after the prefilter is still exact;
- false positives are bounded by the filter's fp rate (sized via
  ``Bloom.for_capacity``), so the shuffled fact volume shrinks to
  ~selectivity + fpp of the input.

At 100 TB this is the difference between shuffling the full fact table
into a join and shuffling only the ~matching slice: the Bloom bits are
a few MB broadcast once, and the probe is one vectorized hash pass per
Arrow batch over dictionary-encoded keys (distinct values probed once
per batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketches.bloom import Bloom
from .agg import sketch_agg
from .topk import probe_distinct


_INTEGRAL = {"byte", "tinyint", "short", "smallint", "int", "integer", "long", "bigint"}
_FRACTIONAL = {"float", "double"}


def _common_key_type(big_t, small_t) -> str | None:
    """SQL-equality-compatible canonical type for the two join keys, so
    both sides render identically when stringified for hashing (the
    no-false-negative guarantee depends on insert and probe producing
    the same bytes for equal keys). Mirrors Spark's numeric promotion:
    integral×integral → bigint; any fractional/decimal mix → double
    (Spark joins decimal↔double through double too); identical types
    pass through. Returns None (no extra cast) when types already
    match; raises for mixes whose equality semantics we can't
    reproduce via a cast (e.g. string vs numeric — Spark would coerce
    to double, so pre-cast explicitly at the call site)."""
    bt, st = big_t.simpleString(), small_t.simpleString()
    if bt == st:
        return None
    num = _INTEGRAL | _FRACTIONAL
    b_num = bt in num or bt.startswith("decimal")
    s_num = st in num or st.startswith("decimal")
    if b_num and s_num:
        if bt in _INTEGRAL and st in _INTEGRAL:
            return "bigint"
        return "double"
    if {bt, st} == {"date", "timestamp"}:
        return "timestamp"
    raise TypeError(
        f"bloom_prefilter: incompatible key types {bt} vs {st}; cast both "
        "sides to a common type explicitly before calling"
    )


def bloom_prefilter(
    big: DataFrame,
    big_col: str,
    small: DataFrame,
    small_col: str,
    fpp: float = 0.01,
    capacity: int | None = None,
    seed: int = 12345,
) -> DataFrame:
    """Rows of ``big`` whose ``big_col`` MAY appear in
    ``small[small_col]`` — superset of the exact semi-join, thinned to
    ~(selectivity + fpp). ``capacity`` sizes the filter (defaults to a
    cheap distinct-count of the small side — pass it explicitly at
    scale to skip that job).

    Keys of differing types are coerced to one canonical type on BOTH
    sides before hashing (see ``_common_key_type``): without that, a
    decimal(10,2) ``1.00`` and a double ``1.0`` stringify differently
    and a real match would be dropped — a silent false negative."""
    common = _common_key_type(big.schema[big_col].dataType, small.schema[small_col].dataType)
    if capacity is None:
        capacity = small.select(small_col).distinct().count()
    proto = Bloom.for_capacity(max(int(capacity), 1), fpp=fpp, seed=seed)
    small_keyed = (
        small if common is None
        else small.select(F.col(small_col).cast(common).alias(small_col))
    )
    bloom = sketch_agg(small_keyed, small_col, lambda: Bloom(proto.m, proto.k, seed))
    blob = bloom.serialize()
    bc = big.sparkSession.sparkContext.broadcast(blob)
    out_schema = big.schema

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        bl = Bloom.deserialize(bc.value)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            keep = probe_distinct(batch.column("__bloom_key"), bl.contains, bool)
            out = batch.drop_columns(["__bloom_key"]).filter(pa.array(keep))
            if out.num_rows:
                yield out

    big_key = F.col(big_col) if common is None else F.col(big_col).cast(common)
    withkey = big.withColumn("__bloom_key", big_key.cast("string"))
    return withkey.mapInArrow(probe, out_schema)
