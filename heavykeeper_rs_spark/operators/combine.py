"""The one combine every distributed sketch path runs through.

Every sketch operator is the same two-phase aggregate: a partial stage
emits one serialized sketch per input partition (or per (partition,
group)), a salted bounded-fan-in tree merges the blobs in the cluster,
and the driver folds the few survivors:

  partial:  ``(salt=partition id, sketch)`` rows out of ``mapInArrow``
            (``sketch_partials`` for the ungrouped operators, which
            read plain parquet projections with pyarrow in the worker
            when ``scan.direct_scan`` admits them, else through
            Spark's scan)
  combine:  ``blob_tree`` — salted multi-level
            ``groupBy(salt).applyInPandas`` merge levels; no reducer
            ever folds more than ``fan_in`` blobs
  final:    ``fold`` — merge and decode the ≤ fan_in survivors
            (``tree_fold`` runs combine + final for ``sketch_partials``)

Blobs of every sketch kind carry a 4-byte magic, so ``merge`` needs no
kind argument: HeavyKeeper blobs take the kernel's O(nnz) sparse merge,
every other kind decodes through ``variants.deserialize_any`` and folds
with ``.merge``.
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import chain

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import _MAGIC as _HK_MAGIC
from ..kernel import merge_blobs
from ..variants import deserialize_any
from .scan import direct_scan, estimate_partitions

BLOB_SCHEMA = StructType(
    [StructField("salt", IntegerType(), False), StructField("sketch", BinaryType(), False)]
)
GROUP_BLOB_SCHEMA = StructType(
    [StructField("group", StringType(), False), *BLOB_SCHEMA.fields]
)


def partition_id() -> int:
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


def partition_rng(seed: int, pid: int) -> np.random.Generator:
    """Per-partition decay-duel RNG of the HeavyKeeper family: each
    partition draws independently, reproducibly per (seed, pid)."""
    return np.random.default_rng(
        np.random.PCG64(((seed << 17) ^ 0x9E3779B97F4A7C15) + pid)
    )


def merge(blobs: list[bytes]) -> bytes:
    """Associative reduce of same-kind sketch blobs into one blob.

    HeavyKeeper (``HKS1``) blobs go through ``kernel.merge_blobs`` and
    keep its O(nnz) sparse fast path; every other kind is decoded by
    the magic-sniffing ``deserialize_any`` and folded with ``.merge``.
    Blobs of different kinds raise ValueError — they are never silently
    merged."""
    kinds = {bytes(b[:4]) for b in blobs}
    if len(kinds) > 1:
        raise ValueError(f"cannot merge sketch blobs of mixed kinds {sorted(kinds)}")
    if kinds == {_HK_MAGIC}:
        return merge_blobs(blobs)
    acc = deserialize_any(blobs[0])
    for b in blobs[1:]:
        acc.merge(deserialize_any(b))
    return acc.serialize()


def fold(blobs: list[bytes]):
    """Driver-side final: merge the surviving blobs and decode the
    result."""
    return deserialize_any(merge(blobs))


def blob_tree(
    partials: DataFrame,
    n_parts: int,
    fan_in: int,
    keys: tuple[str, ...] = (),
    sums: tuple[str, ...] = (),
) -> DataFrame:
    """Multi-level salted merge tree with bounded fan-in.

    ``partials`` holds ``(*keys, salt, sketch, *sums)`` rows with
    ``salt`` starting as the partition id (< ``n_parts``). Each level
    integer-divides ``salt`` by ``fan_in`` and merges within
    ``(*keys, salt)``, shrinking the blob count fan_in-fold, until at
    most ``fan_in`` blobs per key remain for the final. ``keys=
    ("group",)`` runs one tree per group; ``sums`` names integer side
    columns that are added up along the tree (e.g. per-partition
    counters).

    fan_in=64 by default in the callers: collecting 64 KiB-to-MiB blobs
    to one place is cheap, while an extra applyInPandas level costs a
    whole stage of latency (measured: the 32->4 level tripled a 40M-key
    job's wall time); at 10^5 partitions two 64-way levels still bound
    every reducer. No reducer ever folds more than fan_in blobs, so the
    combine stage's critical path is O(fan_in * log_{fan_in}(partitions))
    merges — treeAggregate shape. (The reference's pairwise merge chain,
    src/heavykeeper.rs:406-457, is the degenerate fan_in=2 depth=n
    version.) Level count is derived from the known partition count, so
    small jobs keep a single shuffle.
    """

    def merge_level(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {c: pdf[c].iloc[:1].to_numpy() for c in (*keys, "salt")}
        row["sketch"] = [merge(list(pdf["sketch"]))]
        row.update({c: [int(pdf[c].sum())] for c in sums})
        return pd.DataFrame(row)

    out = partials
    groups = max(int(n_parts), 1)
    fan_in = max(int(fan_in), 2)  # fan_in <= 1 would never converge
    while groups > fan_in:
        out = (
            out.withColumn("salt", (F.col("salt") / fan_in).cast("int"))
            .groupBy(*keys, "salt")
            .applyInPandas(merge_level, partials.schema)
        )
        groups = -(-groups // fan_in)  # ceil div
    return out


def sketch_partials(keyed: DataFrame, make, feed) -> tuple[DataFrame, int]:
    """The partial stage of every ungrouped sketch operator, in
    ``mapInArrow``: ``make(pid)`` builds one sketch per task,
    ``feed(sketch, batches)`` consumes the task's non-empty Arrow
    batches, and a task that saw any rows emits one ``(salt = pid %
    n_parts, blob)`` row. Returns ``(partials, n_parts)`` for
    ``blob_tree``.

    When ``scan.direct_scan`` admits ``keyed``, each task reads its
    parquet units itself and ``n_parts`` is the exact task count;
    otherwise Spark's scan feeds the stage and ``n_parts`` is
    estimated from the file listing."""
    direct = direct_scan(keyed)
    if direct is None:
        source, n_parts = keyed, max(estimate_partitions(keyed), 1)
    else:
        source, n_parts = direct.frame(keyed.sparkSession), len(direct.tasks)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if direct is not None:
            batches = direct.read(batches)
        batches = (b for b in batches if b.num_rows)
        first = next(batches, None)
        if first is None:
            return
        pid = partition_id()
        sk = make(pid)
        feed(sk, chain([first], batches))
        yield pa.RecordBatch.from_pydict(
            {
                "salt": pa.array([pid % n_parts], type=pa.int32()),
                "sketch": pa.array([sk.serialize()], type=pa.binary()),
            }
        )

    return source.mapInArrow(fn, BLOB_SCHEMA), n_parts


def tree_fold(partials: DataFrame, n_parts: int, fan_in: int, empty):
    """Combine and final of ``sketch_partials`` output: the blob tree,
    a driver collect of the ≤ fan_in survivors, and the fold —
    ``empty()`` when no partition had rows."""
    tree = blob_tree(partials, n_parts, fan_in)
    blobs = [r["sketch"] for r in tree.select("sketch").collect()]
    return fold(blobs) if blobs else empty()
