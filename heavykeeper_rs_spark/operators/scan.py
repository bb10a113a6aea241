"""Scan sizing: the one place that decides how big an input is and how
many of its scan tasks carry rows.

The partial stage of every operator runs only as wide as the scan
tasks that actually hold rows. Parquet assigns a row group to the split
holding its midpoint, so a 100 MB single-row-group file yields many
splits but ONE non-empty task; a split or partition count is blind to
that. ``ScanProfile`` answers from what the input really holds:

  files       ``df.inputFiles()`` — one listing call
  bytes       Spark's own file-index size of the plan's file relations
              (any filesystem Spark reads, Hive-partitioned leaves
              included); None when a leaf is not a file relation
  row_groups  parquet footers, read through pyarrow's filesystem layer
              only when the input is fewer files than cores

Each field is computed on first use and at most once per profile.
``fan_out`` is the library's only repartition-to-parallelism decision
and ``estimate_partitions`` its only partition-count estimate.
"""

from __future__ import annotations

import warnings
from functools import cached_property

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

#: ``fan_out``'s default floor: inputs smaller than this many bytes are
#: not worth an exchange — one task chews through them faster than a
#: repartition stage round-trips (measured at sf0.1: fanning out a
#: 0.6 MB documents scan cost +0.1-0.3 s per query).
_FANOUT_MIN_BYTES = 4 << 20

#: URI -> (pyarrow filesystem, path) resolver of the footer reader
_filesystem = pafs.FileSystem.from_uri


def _is_file_relation(node) -> bool:
    return (
        node.getClass().getSimpleName() == "LogicalRelation"
        and node.relation().getClass().getSimpleName() == "HadoopFsRelation"
    )


def _is_parquet_scan(plan) -> bool:
    """True when ``plan`` is only Project/Filter over one parquet file
    relation — the shape whose row-carrying tasks the footers tell."""
    while plan.getClass().getSimpleName() in ("Project", "Filter"):
        plan = plan.child()
    return (
        _is_file_relation(plan)
        and plan.relation().fileFormat().getClass().getSimpleName() == "ParquetFileFormat"
    )


def footer_row_groups(files: list[str]) -> int | None:
    """Total row groups of the parquet ``files``, read from their
    footers (~0.1 ms each on a local disk). A file pyarrow cannot open
    — e.g. a scheme without a pyarrow filesystem here — gives None and
    one RuntimeWarning naming it, so the caller fails safe."""
    total = 0
    for uri in files:
        try:
            fs, path = _filesystem(uri)
            with fs.open_input_file(path) as f:
                total += pq.ParquetFile(f).metadata.num_row_groups
        except (OSError, ValueError) as e:  # pyarrow's IO / invalid-data errors
            warnings.warn(
                f"cannot read the parquet footer of {uri} ({e}); "
                "the scan is assumed to split without a fan-out",
                RuntimeWarning,
                stacklevel=2,
            )
            return None
    return total


class ScanProfile:
    """What the library knows about the size of one DataFrame's input."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.par = max(df.sparkSession.sparkContext.defaultParallelism, 1)

    @cached_property
    def files(self) -> list[str]:
        try:
            return list(self.df.inputFiles())
        except Exception:
            return []

    @cached_property
    def _plan(self):
        return self.df._jdf.queryExecution().optimizedPlan()

    @cached_property
    def bytes(self) -> int | None:
        """Summed ``stats().sizeInBytes`` of the optimized plan's file
        relations — the size Spark's file index already holds, equal to
        the on-disk bytes. None (read as 'large') when any leaf is not
        a file relation."""
        leaves = self._plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if not _is_file_relation(leaf):
                return None
            total += int(leaf.stats().sizeInBytes())
        return total

    @cached_property
    def row_groups(self) -> int | None:
        """Parquet row groups of the input; None when the input is at
        least ``par`` files (the footers are then not read) or a footer
        cannot be read."""
        if len(self.files) >= self.par:
            return None
        return footer_row_groups(self.files)

    @cached_property
    def tasks(self) -> int:
        """Scan tasks that carry rows. For Project/Filter over one
        parquet relation: the file count when it reaches ``par``, else
        the row-group count (``par`` when either is unknown) — no RDD is
        compiled. Any other plan: the exact partition count of its
        compiled RDD (~35-40 ms on a fresh DataFrame)."""
        if not _is_parquet_scan(self._plan):
            return int(self.df._jdf.rdd().getNumPartitions())
        if not self.files or len(self.files) >= self.par:
            return max(len(self.files), self.par)
        rg = self.row_groups
        return self.par if rg is None else max(rg, 1)


def fan_out(df: DataFrame, min_bytes: int = _FANOUT_MIN_BYTES) -> DataFrame:
    """Round-robin ``df`` to defaultParallelism when fewer scan tasks
    than cores carry its rows and its input is at least ``min_bytes``.

    Use in front of compute that clearly outweighs one row exchange of
    the projected columns: ``min_bytes=0`` for the Python kernels
    (shingling, signature matmuls — 1.5 s+ per partition), the 4 MiB
    default for regex tokenizers and vectorized classifiers, whose
    exchange only pays on inputs a single core would bottleneck on. At
    corpus scale the scan has >= cores row groups and this is a no-op.

    Known limit: row groups overestimate the row-carrying tasks when
    files are smaller than a split, because Spark packs several files
    into one task (measured: 3 files x 5 row groups planned as 3
    tasks). The error fails safe — no fan-out where one might pay."""
    prof = ScanProfile(df)
    if min_bytes and prof.bytes is not None and prof.bytes < min_bytes:
        return df
    return df.repartition(prof.par) if prof.tasks < prof.par else df


def estimate_partitions(df: DataFrame, bias: str = "high") -> int:
    """Cheap physical-partition ESTIMATE from the file listing alone —
    no plan compile, stat or footer read (compiling the plan to an RDD
    costs ~140 ms of driver time per query). The consumers tolerate
    estimation error:

    - ``bias="high"`` (merge-tree sizing): max(#input files,
      defaultParallelism). Overestimate ⇒ a few empty salt groups /
      at most one extra near-empty tree level; underestimate ⇒ pids
      wrap modulo the estimate and fan in earlier. Both correct.
    - ``bias="low"`` (per-partition reservoir sizing): min(#input
      files, defaultParallelism). The safe error direction here is a
      SMALL count (it enlarges the per-partition reservoir): Spark
      bin-packs small files, so a raw file count can be far ABOVE the
      actual split count — sizing the reservoir by it would starve the
      sample (200 packed files ⇒ m≈10 over ~8 real splits). min(...)
      caps that: a single file reports 1 (full reservoir per split),
      and many files report defaultParallelism at most.
    """
    prof = ScanProfile(df)
    n_files = len(prof.files)
    if bias == "low":
        return max(min(n_files, prof.par), 1) if n_files else prof.par
    return max(n_files, prof.par)
