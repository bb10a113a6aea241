"""Scan sizing and the direct parquet reader: the one place that
decides how big an input is, how many of its scan tasks carry rows, and
whether a sketch partial stage may read the parquet files itself.

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

``direct_scan`` is the gate of the direct reader. Spark hands a
``mapInArrow`` its input by decoding parquet into rows in the JVM and
re-encoding them as Arrow, and on a bare key column that transfer costs
several times the sketch kernel. When the optimized plan proves that a
plain read of the files returns what Spark would (a ``Project`` of
plain or int→bigint-widened columns over one unpartitioned parquet
relation on ``file:`` URIs, with no reader setting that changes the
result), it returns a ``DirectScan``: read units (whole files, or row
groups when there are fewer files than cores) packed into an exact
number of tasks, which the partial stage reads with ``pyarrow.parquet``
in the worker, as the tasks of a Python RDD (task ids in, no Spark SQL
around them). Every other plan gets None and keeps Spark's reader.
"""

from __future__ import annotations

import heapq
import warnings
from collections.abc import Iterable, Iterator
from dataclasses import dataclass
from functools import cached_property
from typing import NamedTuple

import pyarrow as pa
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


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _is_file_relation(node) -> bool:
    return _cls(node) == "LogicalRelation" and _cls(node.relation()) == "HadoopFsRelation"


def _is_parquet_scan(plan) -> bool:
    """True when ``plan`` is only Project/Filter over one parquet file
    relation — the shape whose row-carrying tasks the footers tell."""
    while _cls(plan) in ("Project", "Filter"):
        plan = plan.child()
    return _is_file_relation(plan) and _cls(plan.relation().fileFormat()) == "ParquetFileFormat"


def _footers(files: list[str]) -> list[list[int]] | None:
    """Per-file row-group byte sizes of the parquet ``files``, read from
    their footers (~0.1 ms each on a local disk); a 0-byte file has
    none (Spark skips it). A file pyarrow cannot open — e.g. a scheme
    without a pyarrow filesystem here — gives None and one
    RuntimeWarning naming it, so the caller fails safe."""
    out = []
    for uri in files:
        try:
            fs, path = _filesystem(uri)
            with fs.open_input_file(path) as f:
                md = pq.ParquetFile(f).metadata if f.size() else None
        except (OSError, ValueError) as e:  # pyarrow's IO / invalid-data errors
            warnings.warn(
                f"cannot read the parquet footer of {uri} ({e}); "
                "Spark's reader scans it, without a fan-out",
                RuntimeWarning,
                stacklevel=3,
            )
            return None
        n = md.num_row_groups if md is not None else 0
        out.append([md.row_group(i).total_byte_size for i in range(n)])
    return out


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
    def footers(self) -> list[list[int]] | None:
        """Per-file row-group sizes of the input; None when the input is
        at least ``par`` files (the footers are then not read) or a
        footer cannot be read."""
        if len(self.files) >= self.par:
            return None
        return _footers(self.files)

    @property
    def row_groups(self) -> int | None:
        """Parquet row groups of the input (see ``footers``)."""
        return None if self.footers is None else sum(map(len, self.footers))

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


# ------------------------------------------------------- direct reader

#: the column types the direct reader serves, as the Arrow types Spark
#: hands a ``mapInArrow``
_ARROW_TYPES = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "smallint": pa.int16(),
    "tinyint": pa.int8(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
}


def _reads_as(t: pa.DataType, want: pa.DataType) -> bool:
    """Whether a parquet column of Arrow type ``t`` reads as ``want``
    with every value kept — the widenings Spark's own reader applies
    (int32 files under a bigint schema, float under double). Spark also
    narrows (int32 under smallint) and reinterprets (binary under
    string); those raise here instead."""
    if t == want:
        return True
    width = t.bit_width + pa.types.is_unsigned_integer(t) if pa.types.is_integer(t) else 0
    if pa.types.is_integer(want):
        return 0 < width <= want.bit_width
    if want == pa.float64():
        return t == pa.float32() or 0 < width <= 32
    return (t, want) in ((pa.large_string(), pa.string()), (pa.large_binary(), pa.binary()))


class _Column(NamedTuple):
    """One output column of the keyed projection: ``source``, a parquet
    column of Spark type ``spark_type``, renamed to ``name`` and widened
    to bigint when ``widen``."""

    name: str
    source: str
    spark_type: str
    widen: bool

    def conform(self, arr: pa.Array | None, rows: int, uri: str) -> pa.Array:
        want = _ARROW_TYPES[self.spark_type]
        if arr is None or pa.types.is_null(arr.type):  # absent: all-null, as in Spark
            arr = pa.nulls(rows, want)
        if pa.types.is_dictionary(arr.type):
            arr = arr.dictionary_decode()
        if not _reads_as(arr.type, want):
            raise ValueError(
                f"{uri}: parquet column {self.source!r} is {arr.type}, which does not "
                f"read as the table's {self.spark_type} without changing values"
            )
        out = pa.int64() if self.widen else want
        return arr if arr.type == out else arr.cast(out)


def _match(names: list[str], want: str, case_sensitive: bool, uri: str) -> str | None:
    """The file column Spark's reader maps ``want`` to, or None."""
    if case_sensitive:
        return want if want in names else None
    hits = [n for n in names if n.lower() == want.lower()]
    if len(hits) > 1:
        raise ValueError(f"{uri}: columns {hits} all match {want!r} case-insensitively")
    return hits[0] if hits else None


@dataclass(frozen=True)
class DirectScan:
    """A keyed projection the partial stage reads itself: ``tasks[t]``
    lists the ``(file URI, row groups or None for all)`` units of task
    ``t``, read in batches of at most ``batch_rows`` rows. The unit
    list travels in the stage's closure, O(files) bytes; the stage's
    task ``t`` is partition ``t`` of ``parallelize(range(len(tasks)))``."""

    columns: tuple[_Column, ...]
    tasks: tuple[tuple[tuple[str, tuple[int, ...] | None], ...], ...]
    batch_rows: int
    case_sensitive: bool

    def read(self, ids: Iterable[int]) -> Iterator[pa.RecordBatch]:
        """Worker side: the batches of every task id in ``ids``, with
        the projection's names, widenings and nulls — what Spark's
        reader would hand a ``mapInArrow`` over the projection."""
        for t in ids:
            for uri, groups in self.tasks[t]:
                yield from self._read_file(uri, groups)

    def _read_file(self, uri: str, groups) -> Iterator[pa.RecordBatch]:
        fs, path = _filesystem(uri)
        with fs.open_input_file(path) as f:
            try:
                pf = pq.ParquetFile(f)
            except (OSError, ValueError) as e:  # pyarrow's IO / invalid-data errors
                raise ValueError(f"{uri}: not a readable parquet file ({e})") from e
            names = pf.schema_arrow.names
            src = [_match(names, c.source, self.case_sensitive, uri) for c in self.columns]
            read = list(dict.fromkeys(s for s in src if s is not None))
            groups = list(range(pf.num_row_groups) if groups is None else groups)
            if read:
                batches = pf.iter_batches(
                    self.batch_rows, row_groups=groups, columns=read, use_threads=False
                )
            else:  # no projected column in this file: all-null rows
                sizes = [pf.metadata.row_group(g).num_rows for g in groups]
                batches = _null_batches(sizes, self.batch_rows)
            for b in batches:
                cols = [
                    c.conform(b.column(s) if s is not None else None, b.num_rows, uri)
                    for c, s in zip(self.columns, src)
                ]
                yield pa.RecordBatch.from_arrays(cols, names=[c.name for c in self.columns])


def _null_batches(sizes: list[int], batch_rows: int) -> Iterator[pa.RecordBatch]:
    for n in sizes:
        for lo in range(0, n, batch_rows):
            yield pa.record_batch([pa.nulls(min(batch_rows, n - lo))], names=["_"])


def _projected_column(expr, data_columns: set[str]) -> _Column | None:
    """``expr`` of the keyed projection as a direct-read column: an
    ``Alias`` of a data column of a served type, or of its
    int/smallint/tinyint → bigint ``Cast``; None for anything else."""
    if _cls(expr) != "Alias":
        return None
    attr, widen = expr.child(), False
    if _cls(attr) == "Cast" and attr.dataType().simpleString() == "bigint":
        attr, widen = attr.child(), True
    if _cls(attr) != "AttributeReference" or attr.name() not in data_columns:
        return None
    t = attr.dataType().simpleString()
    if t not in _ARROW_TYPES or (widen and t not in ("int", "smallint", "tinyint")):
        return None
    return _Column(expr.name(), attr.name(), t, widen)


def _reader_changes_result(relation, conf) -> bool:
    """Whether a reader setting may make Spark return something other
    than a plain read of the files: schema merging, binary-as-string,
    field-id matching, or skipping corrupt or missing files."""
    opts = relation.options()

    def opt(key: str) -> bool:
        v = opts.get(key)
        return v.isDefined() and v.get().strip().lower() == "true"

    return (
        opt("mergeSchema")
        or opt("ignoreCorruptFiles")
        or opt("ignoreMissingFiles")
        or conf.isParquetSchemaMergingEnabled()
        or conf.isParquetBinaryAsString()
        or conf.parquetFieldIdReadEnabled()
        or conf.ignoreCorruptFiles()
        or conf.ignoreMissingFiles()
    )


def _pack(units: list[tuple[int, str, int | None]], n: int):
    """Longest-first packing of weighted ``(bytes, uri, row group)``
    units into ``n`` tasks, each task's units grouped per file."""
    tasks: list[dict] = [{} for _ in range(n)]
    load = [(0, t) for t in range(n)]
    for w, uri, rg in sorted(units, key=lambda u: (-u[0], u[1], u[2] or 0)):
        size, t = heapq.heappop(load)
        tasks[t].setdefault(uri, []).append(rg)
        heapq.heappush(load, (size + w, t))
    return tuple(
        tuple((uri, None if rgs == [None] else tuple(sorted(rgs))) for uri, rgs in task.items())
        for task in tasks
    )


def direct_scan(df: DataFrame) -> DirectScan | None:
    """The direct reader of the keyed projection ``df``, or None when
    only Spark's reader may read it.

    It applies only when the optimized plan is one ``Project`` of
    ``_projected_column`` items over one unpartitioned parquet
    ``HadoopFsRelation`` whose files are all ``file:`` URIs, and no
    reader setting changes what Spark returns. The read units are the
    files when there are at least ``defaultParallelism`` of them, else
    their row groups (from the profile's footers); the task count is
    ``min(units, max(par, ceil(bytes / spark.sql.files.maxPartitionBytes)))``.
    """
    plan = df._jdf.queryExecution().optimizedPlan()
    if _cls(plan) != "Project" or not _is_file_relation(plan.child()):
        return None
    relation = plan.child().relation()
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    if (
        _cls(relation.fileFormat()) != "ParquetFileFormat"
        or relation.partitionSchema().length() > 0
        or _reader_changes_result(relation, conf)
    ):
        return None
    data_columns = set(relation.dataSchema().fieldNames())
    exprs = plan.projectList()
    columns = [_projected_column(exprs.apply(i), data_columns) for i in range(exprs.size())]
    if None in columns:
        return None
    prof = ScanProfile(df)
    if not prof.files or not all(f.startswith("file:") for f in prof.files):
        return None
    if len(prof.files) >= prof.par:
        units = [
            (size, uri, None)
            for uri in prof.files
            if (size := _filesystem_size(uri))
        ]
    elif prof.footers is None:
        return None
    else:
        units = [
            (size, uri, rg)
            for uri, sizes in zip(prof.files, prof.footers)
            for rg, size in enumerate(sizes)
        ]
    if not units:
        return None
    split = max(int(conf.filesMaxPartitionBytes()), 1)
    n = min(len(units), max(prof.par, -(-prof.bytes // split)))
    batch_rows = int(conf.arrowMaxRecordsPerBatch())
    return DirectScan(
        tuple(columns),
        _pack(units, n),
        batch_rows if batch_rows > 0 else 1 << 30,
        bool(conf.caseSensitiveAnalysis()),
    )


def _filesystem_size(uri: str) -> int:
    fs, path = _filesystem(uri)
    return fs.get_file_info(path).size
