"""CAIDA-style fixed-width binary flow-trace source.

The reference's headline workload reads ``data/*.dat`` files of
13-byte records — src_ip(4) ‖ sport(2) ‖ dst_ip(4) ‖ dport(2) ‖
proto(1) — sequentially on one thread (examples/ip_files.rs:13-98).
Here the same files become a DataFrame of BinaryType keys: Spark's
``binaryFile`` source lists/distributes the files (one task per file —
traces ship as many sequential ``.dat`` parts, so file-level
parallelism is the natural split), and an Arrow kernel slices each
file's bytes into fixed-width records with one reshape — no per-record
Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, StructField, StructType

_KEY_SCHEMA = StructType([StructField("flow_key", BinaryType(), False)])


def _emit_keys(mv, key_size: int) -> pa.RecordBatch:
    """(flow_key binary) RecordBatch over a buffer whose length is a
    whole number of ``key_size`` records — zero-copy: ``py_buffer``
    holds the memoryview (which holds the chunk / Arrow buffer), no
    tobytes copy. The single fixed-width slicer both trace kernels
    (whole-file blobs and byte ranges) share."""
    n = len(mv) // key_size
    flat = pa.py_buffer(mv)
    offsets = pa.array(np.arange(0, (n + 1) * key_size, key_size, dtype=np.int32))
    keys = pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, offsets.buffers()[1], flat]
    )
    return pa.RecordBatch.from_arrays([keys], names=["flow_key"])


def _trace_blob_kernel(key_size: int):
    """mapInArrow kernel over a (content binary) column of whole trace
    files — module-level so the null-content guard is unit-testable."""

    def slice_records(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column(0)
            for i in range(len(col)):
                if not col[i].is_valid:
                    continue  # null content: as_buffer() would be None
                # zero-copy view over the Arrow buffer — no second
                # whole-file bytes copy into Python per task
                blob = memoryview(col[i].as_buffer())
                if len(blob) == 0:
                    continue
                n = len(blob) // key_size
                if n == 0:
                    continue
                # the binary column's data buffer IS the file bytes
                yield _emit_keys(blob[: n * key_size], key_size)

    return slice_records


def read_flow_trace(
    spark: SparkSession, path: str, key_size: int = 13, glob: str = "*.dat"
) -> DataFrame:
    """(flow_key binary) — one row per ``key_size``-byte record across
    every matching trace file. A trailing partial record (truncated
    final write) is dropped, mirroring the reference's read_exact loop
    (examples/ip_files.rs:27-33, which stops at the first short
    read)."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )
    return files.mapInArrow(_trace_blob_kernel(key_size), _KEY_SCHEMA)


def read_flow_trace_stream(
    spark: SparkSession,
    path: str,
    key_size: int = 13,
    glob: str = "*.dat",
    chunk_bytes: int = 8 << 20,
    opener=None,
    parallelism: int | None = None,
) -> DataFrame:
    """Streamed trace reader: same rows as ``read_flow_trace`` with
    task memory bounded by ``chunk_bytes`` instead of the whole file
    (the multi-GB-trace shape). It is ``read_flow_trace_split`` with one
    whole-file slice per file: tasks receive local file paths listed on
    the driver and read record-aligned chunks; a truncated final record
    is dropped (read_exact semantics, examples/ip_files.rs:27-33).
    ``opener`` (default ``open(path, "rb")``) only changes how a listed
    local path is opened: listing and sizing use the local filesystem,
    so it does not make object stores readable. A whole-file slice
    never seeks, so the handle needs only ``read`` and ``close``."""
    import sys

    return read_flow_trace_split(
        spark,
        path,
        key_size,
        glob,
        split_bytes=sys.maxsize,
        chunk_bytes=chunk_bytes,
        opener=opener,
        parallelism=parallelism,
    )


def read_flow_trace_split(
    spark: SparkSession,
    path: str,
    key_size: int = 13,
    glob: str = "*.dat",
    split_bytes: int = 256 << 20,
    chunk_bytes: int = 8 << 20,
    opener=None,
    parallelism: int | None = None,
) -> DataFrame:
    """Intra-file parallel trace reader: ONE oversized ``.dat`` becomes
    many byte-range tasks (the WARC analog is ``read_warc_indexed``,
    but fixed-width records need no index — any multiple of
    ``key_size`` is a record boundary). The driver lists local files
    with sizes and plans record-aligned slices of ≤ ``split_bytes``;
    each task streams its slice in ``chunk_bytes`` reads through the
    byte-range kernel the WARC readers share, so task memory stays
    bounded AND a 100 GB trace engages the whole cluster instead of one
    task. A truncated final record is dropped (read_exact semantics,
    examples/ip_files.rs:27-33). Rows match ``read_flow_trace`` exactly
    (as a multiset; row order follows slice order). ``opener`` only
    changes how a listed local path is opened; slices after a file's
    first seek, so its handle must be seekable."""
    import os

    from .warc import _list_local, _range_task_df

    files = _list_local(path, glob, "trace")
    step = max(1, split_bytes // key_size) * key_size
    slices: list[tuple[str, int, int]] = []  # (path, start, end) in bytes
    for f in files:
        size = os.path.getsize(f) // key_size * key_size
        slices += [(f, s, min(s + step, size)) for s in range(0, size, step)]
    if not slices:
        # only empty/sub-record files: an empty result with the schema
        return spark.createDataFrame([], _KEY_SCHEMA)
    par = parallelism or min(len(slices), spark.sparkContext.defaultParallelism)

    # chunk reads stay record-aligned, so only a short read leaves a
    # partial record to carry into the next one
    chunk_aligned = max(key_size, (chunk_bytes // key_size) * key_size)

    def decode(read) -> Iterator[pa.RecordBatch]:
        buf = b""
        while chunk := read(chunk_aligned):
            buf = buf + chunk if buf else chunk
            usable = (len(buf) // key_size) * key_size
            if usable:
                yield _emit_keys(memoryview(buf)[:usable], key_size)
                buf = buf[usable:]

    return _range_task_df(spark, slices, par, opener, decode, _KEY_SCHEMA)


def write_flow_trace(keys: list[bytes], path: str) -> None:
    """Fixture producer: write records back-to-back the way the
    reference's data tooling lays them out (data/generate.py)."""
    with open(path, "wb") as f:
        for k in keys:
            f.write(k)
