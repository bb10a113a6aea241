"""The one combine every distributed sketch path runs through.

Every sketch operator is the same two-phase aggregate: a partial stage
emits one serialized sketch per input partition (or per (partition,
group)), a salted bounded-fan-in tree merges the blobs in the cluster,
and the driver folds the few survivors:

  partial:  ``(salt = pid % n_parts, sketch)`` rows, one per task
            (``sketch_partials``, the only partial stage, returning a
            ``Partials``). When ``scan.direct_scan`` admits the input,
            its tasks read plain parquet projections with pyarrow and
            run as one Python RDD job, with no SQL execution and no
            Arrow round trip; otherwise Spark's scan feeds a
            ``mapInArrow``. Its grouped mode keeps one sketch per live
            group and emits ``(group, salt, sketch)`` rows; the
            resumable builds of ``plans.checkpoint`` run it with a
            ``make``/``feed`` that save each blob and re-emit a saved one
  combine:  ``blob_tree`` — salted multi-level
            ``groupBy(salt).applyInPandas`` merge levels; no reducer
            ever folds more than ``fan_in`` blobs
  final:    ``fold`` — merge and decode the ≤ fan_in survivors
            (``tree_fold`` runs combine + final for ``sketch_partials``;
            when no tree level runs, the direct reader's rows are
            collected straight from its RDD)

Blobs of every sketch kind carry a 4-byte magic, so ``merge`` needs no
kind argument: HeavyKeeper blobs fold through ``kernel.merge_blobs``,
which merges each blob's live cells straight from the blob, every other
kind decodes through ``variants.deserialize_any`` and folds with
``.merge``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from functools import cached_property
from itertools import chain, islice

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import RDD, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
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


def group_column(col: str):
    """The leading column of a grouped keyed projection: the group as
    Spark's string cast renders it (a no-op on a string column, which
    the direct reader then reads). ``_group_partials`` renders nulls."""
    return F.col(col).cast(StringType()).alias("__group")


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

    HeavyKeeper (``HKS1``) blobs go through ``kernel.merge_blobs``: one
    parser for both cell layouts and one merge body over each blob's
    live cells, O(nnz) per blob whether it is dense or sparse. Every
    other kind is decoded by the magic-sniffing ``deserialize_any`` and
    folded with ``.merge``. The three HeavyKeeper layouts merge their
    candidates by the one rule ``kernel.merge_candidates`` and decode
    them through one checked decoder. Blobs of different kinds, and
    blobs whose cells, candidates or params are malformed, raise
    ValueError — they are never silently merged."""
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
) -> DataFrame:
    """Multi-level salted merge tree with bounded fan-in.

    ``partials`` holds ``(*keys, salt, sketch)`` rows with ``salt``
    starting as the partition id modulo ``n_parts``. Each level
    integer-divides ``salt`` by ``fan_in`` and merges within
    ``(*keys, salt)``, shrinking the blob count fan_in-fold, until at
    most ``fan_in`` blobs per key remain for the final. ``keys=
    ("group",)`` runs one tree per group.

    fan_in=64 by default in the callers: collecting 64 KiB-to-MiB blobs
    to one place is cheap, while an extra applyInPandas level costs a
    whole stage of latency (measured: the 32->4 level tripled a 40M-key
    job's wall time); at 10^5 partitions two 64-way levels still bound
    every reducer. No reducer ever folds more than fan_in blobs, so the
    combine stage's critical path is O(fan_in * log_{fan_in}(partitions))
    merges — treeAggregate shape. (The reference's pairwise merge chain,
    src/heavykeeper.rs:406-457, is the degenerate fan_in=2 depth=n
    version.) Level count is derived from the known partition count, so
    small jobs keep a single shuffle. The bound assumes ``n_parts`` ≥
    the partitions P Spark runs. ``n_parts`` is exact on the direct
    reader and an estimate on Spark's (a ``repartition`` can exceed
    it); then the salts wrap, a level reducer folds up to
    ceil(P / n_parts) * fan_in blobs, and when no level runs
    (``n_parts`` ≤ ``fan_in``) the final gets all P.
    """

    def merge_level(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {c: pdf[c].iloc[:1].to_numpy() for c in (*keys, "salt")}
        row["sketch"] = [merge(list(pdf["sketch"]))]
        return pd.DataFrame(row)

    out = partials
    fan_in = max(int(fan_in), 2)
    for _ in range(tree_levels(n_parts, fan_in)):
        out = (
            out.withColumn("salt", (F.col("salt") / fan_in).cast("int"))
            .groupBy(*keys, "salt")
            .applyInPandas(merge_level, partials.schema)
        )
    return out


def tree_levels(n_parts: int, fan_in: int) -> int:
    """Merge levels ``blob_tree`` runs over ``n_parts`` salts."""
    groups, fan_in, levels = max(int(n_parts), 1), max(int(fan_in), 2), 0
    while groups > fan_in:  # fan_in <= 1 would never converge
        groups = -(-groups // fan_in)  # ceil div
        levels += 1
    return levels


@dataclass(frozen=True)
class Partials:
    """The ``(…, salt, sketch)`` rows of one ``sketch_partials`` stage.

    ``n_parts`` is the count the salts wrap at: the exact task count on
    the direct reader, an estimate on Spark's. On the direct reader
    ``rdd`` holds the rows as tuples, out of a Python RDD job that
    starts no SQL execution, and ``frame`` is ``createDataFrame`` of
    that RDD, built on first use (a merge-tree level, a grouped tree or
    the checkpoint tree reads it). On Spark's reader ``rdd`` is None
    and ``frame`` is the ``mapInArrow`` stage."""

    n_parts: int
    rdd: RDD | None
    build_frame: Callable[[], DataFrame]

    @property
    def direct(self) -> bool:
        return self.rdd is not None

    @cached_property
    def frame(self) -> DataFrame:
        return self.build_frame()


def sketch_partials(keyed: DataFrame, make, feed, max_live_groups: int | None = None) -> Partials:
    """The partial stage of every sketch operator: ``make(pid)`` builds
    one sketch per task, ``feed(sketch, batches)`` consumes the task's
    non-empty Arrow batches, and a task that saw any rows emits one
    ``(salt = pid % n_parts, blob)`` row.

    With ``max_live_groups`` set, ``keyed`` leads with a
    ``group_column`` and the stage keeps one sketch per group, at most
    ``max_live_groups`` of them live (``_group_partials``): ``feed``
    gets each group's slice of each batch without the group column,
    and the rows are ``(group, salt, blob)``.

    When ``scan.direct_scan`` admits ``keyed``, task ``t`` of a
    ``parallelize(range(n_parts), n_parts)`` RDD reads its parquet
    units itself and ``n_parts`` is the exact task count. Otherwise
    Spark's scan feeds the same task body in ``mapInArrow``, which
    wraps its rows in record batches of at most ``max_live_groups``
    rows, so no more blobs wait in a task than sketches stay live, and
    ``n_parts`` is estimated from the file listing."""
    direct = direct_scan(keyed)
    spark = keyed.sparkSession
    schema = BLOB_SCHEMA if max_live_groups is None else GROUP_BLOB_SCHEMA
    n_parts = max(estimate_partitions(keyed), 1) if direct is None else len(direct.tasks)

    def task(pid: int, batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
        batches = (b for b in batches if b.num_rows)
        first = next(batches, None)
        if first is None:
            return
        batches = chain([first], batches)
        if max_live_groups is not None:
            yield from _group_partials(
                batches, lambda: make(pid), feed, max_live_groups, pid % n_parts
            )
            return
        sk = make(pid)
        feed(sk, batches)
        yield pid % n_parts, sk.serialize()

    if direct is not None:
        rdd = spark.sparkContext.parallelize(range(n_parts), n_parts).mapPartitionsWithIndex(
            lambda t, ids: task(t, direct.read(ids))
        )
        return Partials(n_parts, rdd, lambda: spark.createDataFrame(rdd, schema))

    arrow_schema = to_arrow_schema(schema)
    rows_per_batch = max(int(max_live_groups or 1), 1)

    def arrow_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = task(partition_id(), batches)
        while block := list(islice(rows, rows_per_batch)):
            cols = [pa.array(c, f.type) for c, f in zip(zip(*block), arrow_schema)]
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    frame = keyed.mapInArrow(arrow_task, schema)
    return Partials(n_parts, None, lambda: frame)


def _group_partials(
    batches: Iterator[pa.RecordBatch], make, feed, max_live_groups: int, salt: int
) -> Iterator[tuple[str, int, bytes]]:
    """Grouped mode of ``sketch_partials``: per-(task, group) sketches
    with BOUNDED memory in the group dimension.

    A null group renders as ``"None"``. Each batch is split by group,
    and a group's sketch is made the first time the group appears —
    before ``feed`` drops null values, so a group whose values are all
    null still gets its (empty) sketch and appears in a per-group
    aggregate, as under SQL GROUP BY. At most ``max_live_groups``
    sketches stay live: when a new group pushes past the cap, the
    least-recently-touched sketches are emitted early and evicted down
    to half the cap. The check runs
    INSIDE the per-batch group loop, because one Arrow batch can carry
    more distinct groups than the cap (64k-row batches over a URL-scale
    group key). The per-group merge tree folds several blobs per (task,
    group), so early emission is merely more partials, never a
    different answer; with eviction-to-half, a group-ordered stream
    still amortizes to one blob per (task, group)."""
    import pyarrow.compute as pc

    cap = max(int(max_live_groups), 2)
    live: dict[str, object] = {}  # iteration order: least recently touched first

    def emit(groups: list[str]) -> Iterator[tuple[str, int, bytes]]:
        for g in sorted(groups):
            yield g, salt, live.pop(g).serialize()

    for batch in batches:
        d = pc.dictionary_encode(pc.fill_null(batch.column(0), "None"))
        idx = d.indices.to_numpy()
        order = np.argsort(idx, kind="stable")
        bounds = np.searchsorted(idx[order], np.arange(len(d.dictionary) + 1))
        values = batch.drop_columns([batch.schema.names[0]]).take(pa.array(order))
        for gi, g in enumerate(d.dictionary.to_pylist()):
            sk = live.pop(g, None)
            live[g] = sk = make() if sk is None else sk
            lo, hi = bounds[gi], bounds[gi + 1]
            feed(sk, [values.slice(lo, hi - lo)])
            if len(live) > cap:
                yield from emit(list(live)[: len(live) - cap // 2])
    yield from emit(list(live))


def grouped_blob_tree(
    partials: Partials, fan_in: int, finalize, out_schema: StructType
) -> DataFrame:
    """Combine and final of grouped ``sketch_partials`` output: one
    ``blob_tree`` per group, then ``finalize(group, blobs)`` over each
    group's ≤ fan_in survivors emits its ``out_schema`` rows. Rows are
    consumed map-side, so the shuffles carry only blobs — O(partitions ×
    groups) of them, independent of the row count — and a Zipf-hot
    group costs each mapper bounded sketch memory instead of landing
    its row set on one reducer."""
    tree = blob_tree(partials.frame, partials.n_parts, fan_in, keys=("group",))

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        return finalize(str(pdf["group"].iloc[0]), list(pdf["sketch"]))

    return tree.groupBy("group").applyInPandas(final, out_schema)


def final_blobs(partials: Partials, fan_in: int) -> list[bytes]:
    """The ≤ fan_in blobs the driver folds: on the direct reader with
    no tree level to run, the rows collected straight from its RDD;
    otherwise the tree's ``sketch`` column, collected as Arrow."""
    if partials.direct and not tree_levels(partials.n_parts, fan_in):
        return [row[-1] for row in partials.rdd.collect()]
    tree = blob_tree(partials.frame, partials.n_parts, fan_in)
    return tree.select("sketch").toArrow().column(0).to_pylist()


def tree_fold(partials: Partials, fan_in: int, empty):
    """Combine and final of ``sketch_partials`` output: the blob tree,
    a driver collect of the ≤ fan_in survivors, and the fold —
    ``empty()`` when no partition had rows."""
    blobs = final_blobs(partials, fan_in)
    return fold(blobs) if blobs else empty()
